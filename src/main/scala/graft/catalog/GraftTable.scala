package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A versioned, insertable table with computed columns, MVCC row visibility,
  * snapshots, time travel and revert — the Spark-native equivalent of the
  * reference's `InsertableTable` (`/root/reference/pixeltable/catalog/
  * insertable_table.py`, store layout `store.py:27-58`).
  *
  * Physical layout: parquet files under `<warehouse>/<name>/data/v<N>-<op>/`
  * with system columns `_rowid` (stable row identity), `_v_min`/`_v_max`
  * (row live at V iff `_v_min <= V < _v_max`). The catalog keeps a
  * Delta-style file-level add/remove log; the MVCC filter
  * `_v_min <= V AND _v_max > V` pushes down to the parquet scan.
  *
  * Scale behavior: inserts append (new files only). Delete/update/
  * batchUpdate are file-pruned copy-on-write — `input_file_name()`
  * identifies the files that actually contain matching live rows and only
  * those are rewritten; untouched files stay in the manifest. Write cost is
  * proportional to touched files, not table size.
  *
  * Concurrency: optimistic. Every mutation writes its data files to a
  * UNIQUE directory (no two writers ever collide physically), then
  * check-and-swap-commits the manifest (`Catalog.commit`); a loser discards
  * its files and retries the whole mutation from fresh meta, so concurrent
  * `insert()`s serialize into consecutive versions and a conflicting schema
  * change surfaces its own validation error on replay. This is the
  * reference's Postgres-transaction + retry_loop protocol
  * (`catalog/catalog.py`, `tests/test_concurrent.py`) re-expressed over a
  * file manifest, Delta-commit style.
  */
final class GraftTable private (
    val spark: SparkSession,
    val catalog: Catalog,
    val name: String,
) {
  import GraftTable._

  def meta: TableMeta = catalog.load(name)

  def currentVersion: Long = meta.currentVersion

  /** Unique per write ATTEMPT: the random suffix means a writer that loses
    * the commit race never collided with the winner's files; its orphan
    * directory is unreferenced by any manifest and `vacuum` reclaims it.
    */
  private def dataDir(version: Long, op: String): String =
    s"${catalog.warehouse}/$name/data/v$version-$op-${java.util.UUID.randomUUID().toString.take(8)}"

  // ---------- read path ----------

  /** Stored image at `version` (system columns included). */
  private def storedAt(m: TableMeta, version: Long): DataFrame = {
    val files = m.activeFiles(version)
    if (files.isEmpty) emptyFrame(m)
    else spark.read.option("mergeSchema", "true").parquet(files: _*)
      .filter(col(VMin) <= version && col(VMax) > version)
  }

  private def emptyFrame(m: TableMeta): DataFrame = {
    val storedCols = m.columns.filter(c => c.computedExpr.isEmpty || c.stored)
    val schemaSql = (storedCols.map(c => s"${c.storeName} ${c.dataType}") ++
      Seq(s"$RowId bigint", s"$VMin bigint", s"$VMax bigint")).mkString(", ")
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(schemaSql))
  }

  /** files carry physical column names (stable across renames); user-facing
    * frames carry logical names. These map between the two.
    */
  private def toLogical(df: DataFrame, m: TableMeta): DataFrame =
    m.columns.filter(c => c.storeName != c.name).foldLeft(df) { (d, c) =>
      if (d.columns.contains(c.storeName)) d.withColumnRenamed(c.storeName, c.name) else d
    }

  private def toPhysical(df: DataFrame, m: TableMeta): DataFrame =
    m.columns.filter(c => c.storeName != c.name).foldLeft(df) { (d, c) =>
      if (d.columns.contains(c.name)) d.withColumnRenamed(c.name, c.storeName) else d
    }

  /** Table contents at a version (default: latest), user columns only.
    * Unstored computed columns are inlined here — the analog of the
    * reference's resolve_computed_cols (`plan.py:88-93`).
    */
  def read(version: Option[Long] = None): DataFrame = {
    val m = meta
    require(m.isVersioned || version.forall(_ == m.currentVersion),
      s"$name is unversioned — no history to time-travel to")
    val v = version.getOrElse(m.currentVersion)
    val colsAtV = m.columnsAt(v) // schema is versioned: later-added columns don't exist at v
    var df = toLogical(storedAt(m, v), m)
    m.computedInTopoOrderAt(v).filterNot(_.stored).foreach { c =>
      df = df.withColumn(c.name, expr(c.computedExpr.get).cast(c.dataType))
    }
    df.select(colsAtV.map(c => col(c.name)): _*)
  }

  /** Read pinned by snapshot name (reference `pxt.create_snapshot`). */
  def readSnapshot(snapshot: String): DataFrame = {
    val m = meta
    val v = m.snapshots.getOrElse(snapshot,
      throw new IllegalArgumentException(s"no snapshot '$snapshot' on $name"))
    read(Some(v))
  }

  /** System-column view for tests/debugging. */
  def readWithSystem(version: Option[Long] = None): DataFrame = {
    val m = meta
    toLogical(storedAt(m, version.getOrElse(m.currentVersion)), m)
  }

  /** Full row history — live AND closed rows, no MVCC visibility filter
    * (change-data-feed style; used by view maintenance to see deletions).
    */
  def readHistory(): DataFrame = storedImage(meta)

  /** Change data feed (the Delta/Iceberg CDF analog, read straight off the
    * MVCC row images — no event log to maintain): every row-level change
    * with commit version in (fromVersion, toVersion] as
    * `insert` / `delete` / `update_preimage` / `update_postimage` events,
    * with `_rowid` and `_commit_version` alongside the user columns.
    *
    * Opens are images with `_v_min` in the window, closes images with
    * `_v_max` in the window; an open and a close of the SAME `_rowid` at
    * the SAME version pair into an update (updates keep their `_rowid`).
    * Unstored computed columns are inlined from the image, so a
    * preimage carries the computed value its stored columns implied.
    *
    * Scale shape: the open/close filters push to the parquet scan
    * (footer min/max on `_v_min`/`_v_max` skip files wholly outside the
    * window — versions correlate with files, so a narrow window reads
    * few files), and the update pairing is ONE hash shuffle on
    * (`_rowid`, version). Compaction copies images byte-identical, so a
    * compact version emits ZERO events by construction.
    */
  def changeFeed(fromVersion: Long, toVersion: Option[Long] = None): DataFrame = {
    val m = meta
    require(m.isVersioned, s"$name is unversioned — no change history kept")
    val hi = toVersion.getOrElse(m.currentVersion)
    require(fromVersion <= hi,
      s"empty window: fromVersion $fromVersion > toVersion $hi")
    require(hi <= m.currentVersion,
      s"toVersion $hi beyond current ${m.currentVersion}")
    var img = storedImage(m) // already logical-named
    m.computedInTopoOrderAt(hi).filterNot(_.stored).foreach { c =>
      img = img.withColumn(c.name, expr(c.computedExpr.get).cast(c.dataType))
    }
    val userCols = m.columnsAt(hi).map(_.name)
    val opens = img
      .filter(col(VMin) > fromVersion && col(VMin) <= hi)
      .withColumn("_commit_version", col(VMin))
      .withColumn("_opened", lit(true))
    val closes = img
      .filter(col(VMax) > fromVersion && col(VMax) <= hi)
      .withColumn("_commit_version", col(VMax))
      .withColumn("_opened", lit(false))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(RowId), col("_commit_version"))
    opens.select((userCols :+ RowId :+ "_commit_version" :+ "_opened").map(col): _*)
      .unionByName(closes.select(
        (userCols :+ RowId :+ "_commit_version" :+ "_opened").map(col): _*))
      .withColumn("_paired", count(lit(1)).over(w) === 2)
      .withColumn("_change_type",
        when(col("_paired") && col("_opened"), lit("update_postimage"))
          .when(col("_paired"), lit("update_preimage"))
          .when(col("_opened"), lit("insert"))
          .otherwise(lit("delete")))
      .drop("_opened", "_paired")
  }

  /** `col.localpath` through the CATALOG surface: reads the table (at
    * `version`) and appends `<outCol>`/`<outCol>_errormsg` with
    * executor-local cached paths for the remote URIs in `uriCol`. Cache
    * entries are tagged with THIS table's [[graft.multimodal.FileCache.tableId]]
    * and the column's live ordinal, so `Catalog.dropTable` purges exactly
    * this table's media from every JVM-local cache (reference
    * `utils/filecache.py` FileCache.clear(tbl_id) on drop).
    */
  def localPath(uriCol: String, outCol: String, cacheDir: String,
      version: Option[Long] = None): DataFrame = {
    val m = meta
    val ord = m.liveColumns.indexWhere(_.name == uriCol)
    require(ord >= 0, s"no such column on $name: '$uriCol'")
    graft.multimodal.Multimodal.withLocalPath(read(version), uriCol, outCol,
      cacheDir, tblId = graft.multimodal.FileCache.tableId(name), colId = ord)
  }

  /** Schema + versioning summary (reference `t.describe()`). */
  def describe(): DataFrame = {
    val m = meta
    import spark.implicits._
    m.liveColumns.map(c => (c.name, c.dataType,
      c.computedExpr.getOrElse(""), c.stored))
      .toDF("column", "type", "computed_expr", "stored")
  }

  /** Structured introspection snapshot (reference `t.get_metadata()` →
    * TableMetadata/ColumnMetadata/IndexMetadata, `catalog/table_metadata.py`):
    * name/path, current + schema state, per-column provenance (version
    * added, stored vs computed, the computing expression and its parsed
    * dependencies), declared ANN indexes with their maintenance high-water
    * mark, and named snapshots. Pure manifest read — no data scan.
    */
  def tableMetadata: GraftTable.TableMetadataInfo = {
    val m = meta
    GraftTable.TableMetadataInfo(
      name = name,
      version = m.currentVersion,
      versionCreatedMs = m.versions.lastOption.map(_.createdAtMs).getOrElse(0L),
      commitSeq = m.commitSeq,
      nextRowId = m.nextRowId,
      columns = m.liveColumns.map { c =>
        GraftTable.ColumnMetadataInfo(
          name = c.name,
          dataType = c.dataType,
          versionAdded = c.addedVersion,
          isStored = c.computedExpr.isEmpty || c.stored,
          isComputed = c.computedExpr.isDefined,
          computedWith = c.computedExpr,
          dependsOn = c.computedExpr
            .map(e => ColumnDef.exprReferences(e).toSeq.sorted)
            .getOrElse(Seq.empty),
          physicalName = c.storeName,
          comment = c.comment,
          customMetadata = c.customMetadata,
          mediaValidation = c.mediaValidation)
      },
      indices = m.indexes.map { i =>
        GraftTable.IndexMetadataInfo(i.name, Seq(i.column), i.kind,
          shards = i.shards, m = i.m, efConstruction = i.efConstruction,
          segmentThreshold = i.segmentThreshold,
          indexedThrough = i.indexedThrough)
      },
      snapshots = m.snapshots,
      primaryKey = m.primaryKey,
      isVersioned = m.isVersioned)
  }

  /** Version log as a DataFrame (reference `t.history()`). */
  def history(): DataFrame = {
    val m = meta
    import spark.implicits._
    m.versions.map(v => (v.version, v.op, v.added.length, v.removed.length,
      new java.sql.Timestamp(v.createdAtMs)))
      .toDF("version", "operation", "files_added", "files_removed", "created_at")
  }

  // ---------- write path ----------

  /** Dry-run materialization (reference `Table.compute`,
    * `catalog/table.py:806`): evaluate EVERY computed column — stored and
    * unstored — over the given rows and return the result WITHOUT
    * persisting anything (no version, no row ids, no index maintenance).
    * The use case is inspecting what an insert would produce, or running
    * the table's computation pipeline as a pure function over external
    * rows. Evaluation order and expressions are identical to `insert`'s.
    */
  def compute(rows: DataFrame): DataFrame = {
    val m = meta
    var df = rows
    m.computedInTopoOrder.foreach { c =>
      df = df.withColumn(c.name, expr(c.computedExpr.get).cast(c.dataType))
    }
    df.select(m.liveColumns.map(c => col(c.name)): _*)
  }

  /** Append rows. Stored computed columns are evaluated in dependency order
    * at insert time (reference insert plan, `plan.py:255-266`); row ids are
    * assigned distributedly (no single-partition choke point).
    */
  def insert(rows: DataFrame): Long = insertStatus(rows).version

  /** Append rows and report the reference's UpdateStatus counts
    * (`catalog/update_status.py`): rows inserted and computed cells
    * evaluated, both from the just-written parquet FOOTERS — driver-side
    * metadata, no extra Spark job. `numExcs`/`colsWithExcs` count cells
    * that landed in error state (non-null errortype in a cellmd struct,
    * non-null `<col>_errormsg` sidecar — the try_* and AsyncBatcher
    * capture surfaces), also straight from footer null statistics; hard
    * computed-expression failures still fail the insert.
    */
  def insertStatus(rows: DataFrame,
      returnRows: Boolean = false): GraftTable.UpdateStatus = {
    var insertedFiles: Seq[String] = Seq.empty
    var computedCols: Seq[String] = Seq.empty
    var errLeaves: Seq[(String, String, org.apache.spark.sql.Column)] = Seq.empty
    val v = retryOnConflict {
      val m = meta
      val v = m.currentVersion + 1
      // primary-key unique constraint (reference partial B-tree index
      // semantics, index/btree.py: only LIVE rows hold their key, so a
      // deleted key is immediately reusable). One distributed semi-join
      // against live keys + one intra-batch groupBy — no driver-side
      // key sets, so constraint checking scales with the table.
      if (m.primaryKey.nonEmpty) {
        val pk = m.primaryKey
        val batchDup = rows.groupBy(pk.map(col): _*)
          .agg(count(lit(1)).as("_n")).filter(col("_n") > 1)
          .limit(1).collect()
        if (batchDup.nonEmpty) throw new IllegalArgumentException(
          s"Duplicate primary key in inserted rows: " +
            pk.zip(batchDup.head.toSeq).map { case (k, x) => s"$k=$x" }.mkString(", "))
        val conflict = rows.select(pk.map(col): _*)
          .join(read().select(pk.map(col): _*), pk, "left_semi")
          .limit(1).collect()
        if (conflict.nonEmpty) throw new IllegalArgumentException(
          s"Duplicate primary key: " +
            pk.zip(conflict.head.toSeq).map { case (k, x) => s"$k=$x" }.mkString(", "))
      }
      var df = rows
      val stored = m.computedInTopoOrder.filter(_.stored)
      computedCols = stored.map(_.name)
      errLeaves = errorLeafDescriptors(m)
      stored.foreach { c =>
        df = df.withColumn(c.name, expr(c.computedExpr.get).cast(c.dataType))
      }
      df = df
        .withColumn(RowId, monotonically_increasing_id() + lit(m.nextRowId))
        .withColumn(VMin, lit(v))
        .withColumn(VMax, lit(Live))
      val dir = dataDir(v, "insert")
      toPhysical(df, m).write.mode("overwrite").parquet(dir)
      val files = listParquetFiles(dir)
      insertedFiles = files
      // rowid max from the just-written files' parquet FOOTERS, read on the
      // driver — no Spark job (the previous footer-aggregate-pushdown read
      // still paid full job scheduling per insert; at a handful of files
      // the driver loop is microseconds of metadata I/O, and DML
      // lifecycles run many inserts)
      val maxId = maxLongFromFooters(files, RowId).getOrElse(m.nextRowId - 1)
      commitMetaOrClean(m, m.copy(
        versions = m.versions :+ entry(v, "insert", files, Seq.empty),
        nextRowId = maxId + 1), dir)
      v
    }
    // outside the retry body: a maintenance-side conflict must never replay
    // an already-committed insert (which would duplicate its rows)
    maintainIndexes()
    squashIfUnversioned()
    // the files just written are live (squash/vacuum never touch them),
    // so footer counts remain readable after the unversioned squash
    val n = rowCountFromFooters(insertedFiles)
    // error-cell counts from the same footers (null stats), also job-free
    val excs = errLeaves
      .map { case (nm, leaf, _) => nm -> nonNullCountFromFooters(insertedFiles, leaf) }
      .filter(_._2 > 0)
    // reference insert(return_rows=True): the just-written rows' stored
    // values, read straight from the new files (no table scan)
    val returned =
      if (!returnRows || insertedFiles.isEmpty) None
      else {
        val m = meta
        val back = toLogical(spark.read.parquet(insertedFiles: _*), m)
          .select(m.liveColumns.filter(c => c.computedExpr.isEmpty || c.stored)
            .map(c => col(c.name)): _*)
        val cols = back.columns
        Some(back.collect().toSeq.map(_.getValuesMap[Any](cols)))
      }
    attachCacheWarnings(GraftTable.UpdateStatus(v, numRows = n,
      numComputedValues = n * computedCols.length,
      numExcs = excs.map(_._2).sum,
      updatedCols = computedCols,
      colsWithExcs = excs.map(_._1),
      rows = returned))
  }

  /** The reference's `emit_eviction_warnings` (utils/filecache.py:334-338),
    * fired once per top-level DML op: drain the JVM-local media caches'
    * working-set re-download warnings onto the returned status. The drain
    * consumes the "new since last warning" flag, so an op without fresh
    * re-downloads reports none. (Executor-side caches on a real cluster
    * surface through `FileCache.clusterStats` instead — a driver can't
    * synchronously poll remote JVMs at commit time.)
    */
  private def attachCacheWarnings(
      st: GraftTable.UpdateStatus): GraftTable.UpdateStatus =
    st.copy(cacheWarnings = graft.multimodal.FileCache.drainEvictionWarnings())

  /** Unversioned tables retain no history: after every mutation the
    * version log squashes to one entry holding the live file set (the
    * version NUMBER stays monotonic so incremental views keep their
    * high-water marks) and superseded files are vacuumed.
    */
  private def squashIfUnversioned(): Unit = {
    if (meta.isVersioned) return
    retryOnConflict {
      val m = meta
      if (m.versions.length > 1) {
        val cur = m.currentVersion
        commitMeta(m, m.copy(versions = Seq(VersionEntry(cur, "unversioned",
          m.activeFiles(cur), Seq.empty, System.currentTimeMillis()))))
      }
      0L
    }
    vacuum()
  }

  /** Delete rows matching a SQL predicate: file-pruned copy-on-write —
    * only files containing matching live rows are rewritten with
    * `_v_max := V+1`; history stays readable via time travel.
    */
  def delete(predicateSql: String): Long = deleteStatus(predicateSql).version

  /** Delete + the reference's UpdateStatus counts. The deleted-row count
    * rides the rewrite as a Spark `Observation` metric (CollectMetrics on
    * the write plan) — no extra job, exact.
    */
  def deleteStatus(predicateSql: String): GraftTable.UpdateStatus = {
    var n = 0L
    val ver = retryOnConflict {
      val m = meta
      val v = m.currentVersion + 1
      withTouchedFiles(m, expr(predicateSql)) match {
        case None => n = 0L; noopVersion(m, v, "delete")
        case Some((touchedDf, touchedFiles)) =>
          val obs = org.apache.spark.sql.Observation()
          val out = touchedDf.withColumn(VMax,
            when(col(VMax) === Live && expr(predicateSql), lit(v)).otherwise(col(VMax)))
            .observe(obs, sum(when(col(VMax) === v, 1L)).as("_n"))
          val res = rewrite(m, v, "delete", out, touchedFiles)
          n = Option(obs.get("_n")).collect { case x: java.lang.Long => x.longValue() }
            .getOrElse(0L)
          res
      }
    }
    squashIfUnversioned()
    GraftTable.UpdateStatus(ver, numRows = n, numComputedValues = 0L)
  }

  /** Delete live rows whose `keyCol` value appears in `keys` (a one-column
    * DataFrame), fully distributed — the key set is never materialized on
    * the driver, so a 100M-row delete works the same as a 100-row one, and
    * exactly ONE table version is minted regardless of key count. File-pruned
    * copy-on-write like `delete`; only the driver-side file list (not rows)
    * is collected. The join strategy is left to Catalyst/AQE: small key sets
    * broadcast, large ones shuffle.
    */
  def deleteByKeys(keys: DataFrame, keyCol: String): Long =
    deleteByKeysStatus(keys, keyCol).version

  /** deleteByKeys + UpdateStatus counts (Observation on the rewrite). */
  def deleteByKeysStatus(keys: DataFrame, keyCol: String): GraftTable.UpdateStatus = {
    val st = deleteByKeysInner(keys, keyCol)
    squashIfUnversioned()
    attachCacheWarnings(st)
  }

  private def deleteByKeysInner(keys: DataFrame,
      keyCol: String): GraftTable.UpdateStatus = retryOnConflict {
    val m = meta
    val v = m.currentVersion + 1
    require(keys.columns.length == 1, "deleteByKeys expects a single-column key frame")
    val files = m.activeFiles(m.currentVersion)
    if (files.isEmpty)
      return GraftTable.UpdateStatus(noopVersion(m, v, "delete"), 0L, 0L)
    val k = keys.toDF("_k").distinct()
    val df = toLogical(
      spark.read.option("mergeSchema", "true").parquet(files: _*), m)
      .withColumn(FileCol, input_file_name())
    val joined = df.join(k, df(keyCol) === k("_k"), "left_outer")
    val hit = col(VMax) === Live && k("_k").isNotNull
    val hitFiles = joined.filter(hit).select(FileCol).distinct()
      .collect().map(_.getString(0))
    if (hitFiles.isEmpty)
      return GraftTable.UpdateStatus(noopVersion(m, v, "delete"), 0L, 0L)
    val obs = org.apache.spark.sql.Observation()
    val out = joined.filter(col(FileCol).isin(hitFiles.toSeq: _*))
      .withColumn(VMax, when(hit, lit(v)).otherwise(col(VMax)))
      .drop(FileCol).drop("_k")
      .observe(obs, sum(when(col(VMax) === v, 1L)).as("_n"))
    val ver = rewrite(m, v, "delete", out, manifestFilesMatching(m, hitFiles))
    val n = Option(obs.get("_n")).collect { case x: java.lang.Long => x.longValue() }
      .getOrElse(0L)
    attachCacheWarnings(
      GraftTable.UpdateStatus(ver, numRows = n, numComputedValues = 0L))
  }

  /** Update columns on rows matching a predicate; dependent computed columns
    * recompute transitively (reference update cascade, `plan.py:414-485`).
    * Updated rows keep their `_rowid`. File-pruned like delete.
    */
  def update(setExprs: Map[String, String], predicateSql: String,
      cascade: Boolean = true): Long =
    updateStatus(setExprs, predicateSql, cascade).version

  /** Update + the reference's UpdateStatus counts: updated-row count via
    * an `Observation` metric on the rewrite (no extra job); updatedCols =
    * the set columns plus the stored computed columns the cascade
    * recomputed; numComputedValues = rows × recomputed columns.
    * `cascade=false` (the reference's `update(..., cascade=False)`)
    * leaves dependent computed columns stale.
    */
  def updateStatus(setExprs: Map[String, String], predicateSql: String,
      cascade: Boolean = true): GraftTable.UpdateStatus = {
    var n = 0L
    var cascaded: Seq[String] = Seq.empty
    var excCounts: Seq[(String, Long)] = Seq.empty
    val v = retryOnConflict {
      val m = meta
      val v = m.currentVersion + 1
      m.primaryKey.filter(setExprs.contains).foreach(k =>
        throw new IllegalArgumentException(
          s"cannot update primary key column '$k' — the unique constraint " +
            "is enforced at insert; delete + insert to change a key"))
      // reference _validate_update_spec (table_version.py:1239-1241)
      m.liveColumns.filter(c => c.computedExpr.isDefined &&
          setExprs.contains(c.name))
        .foreach(c => throw new IllegalArgumentException(
          s"column ${c.name} is computed and cannot be updated"))
      withTouchedFiles(m, expr(predicateSql)) match {
        case None => n = 0L; noopVersion(m, v, "update")
        case Some((touchedDf, touchedFiles)) =>
          val hit = col(VMax) === Live && expr(predicateSql)
          val closed = touchedDf.withColumn(VMax, when(hit, lit(v)).otherwise(col(VMax)))
          var updated = touchedDf.filter(hit)
          setExprs.foreach { case (c, e) => updated = updated.withColumn(c, expr(e)) }
          cascaded = if (cascade) dependentComputed(m, setExprs.keySet) else Seq.empty
          updated = (if (cascade) recomputeCascade(updated, setExprs.keySet, m)
                     else updated)
            .withColumn(VMin, lit(v))
            .withColumn(VMax, lit(Live))
            .select(closed.columns.map(col): _*)
          val leaves = errorLeafDescriptors(m)
          val obs = org.apache.spark.sql.Observation()
          // error-cell counts ride the SAME CollectMetrics pass as the
          // row count — still zero extra jobs for num_excs
          val metrics = sum(when(col(VMin) === v, 1L)).as("_n") +:
            leaves.zipWithIndex.map { case ((_, _, isErr), i) =>
              sum(when(col(VMin) === v && isErr, 1L)).as(s"_exc_$i") }
          val out = closed.union(updated).observe(obs, metrics.head, metrics.tail: _*)
          val res = rewrite(m, v, "update", out, touchedFiles)
          n = Option(obs.get("_n")).collect { case x: java.lang.Long => x.longValue() }
            .getOrElse(0L)
          excCounts = leaves.zipWithIndex.map { case ((nm, _, _), i) =>
            nm -> Option(obs.get(s"_exc_$i"))
              .collect { case x: java.lang.Long => x.longValue() }.getOrElse(0L)
          }.filter(_._2 > 0)
          res
      }
    }
    // rewritten rows may carry new values for an indexed embedding column;
    // the catch-up appends them so searchIndex ranks by the NEW vector
    maintainIndexes()
    squashIfUnversioned()
    attachCacheWarnings(GraftTable.UpdateStatus(v, numRows = n,
      numComputedValues = n * cascaded.length,
      numExcs = excCounts.map(_._2).sum,
      updatedCols = setExprs.keys.toSeq.sorted ++ cascaded,
      colsWithExcs = excCounts.map(_._1)))
  }

  /** stored computed columns whose transitive dependencies intersect
    * `changed` — the columns `recomputeCascade` re-evaluates, in order
    */
  private def dependentComputed(m: TableMeta, changed: Set[String]): Seq[String] = {
    var acc = changed
    m.computedInTopoOrder.filter(_.stored).flatMap { c =>
      val deps = ColumnDef.exprReferences(c.computedExpr.get)
      if (deps.exists(acc.contains)) { acc += c.name; Some(c.name) } else None
    }
  }

  /** Apply per-key updates from a DataFrame (reference batch_update:
    * SqlLookupNode key-list lookup + RowUpdateNode, `exec/sql_node.py:
    * 563-609`, `exec/row_update_node.py:9`): rows matched on `keyCols` take
    * the update frame's other columns as new values; dependent computed
    * columns recompute transitively; unmatched rows and untouched files
    * stay as they are.
    */
  def batchUpdate(updates: DataFrame, keyCols: Seq[String],
      cascade: Boolean = true, ifNotExists: String = "error"): Long =
    batchUpdateStatus(updates, keyCols, cascade, ifNotExists).version

  /** batchUpdate + the reference's UpdateStatus counts (same Observation
    * mechanism as updateStatus — no extra job), with the reference's full
    * surface (`catalog/table.py:978-1022`, `table_version.py:1160-1206`):
    *
    *  - `ifNotExists` decides what happens to update rows whose key matches
    *    no live row: `"error"` (the reference default) raises with the
    *    unmatched count, `"ignore"` skips them silently, `"insert"` inserts
    *    them (upsert) — unprovided stored columns land as typed nulls and
    *    computed columns evaluate exactly as on `insert`; the returned
    *    status SUMS the update and insert legs like the reference's
    *    `result += insert_status.to_cascade()`. The unmatched probe, the
    *    update rewrite and the insert leg all run under the table writer
    *    lock (the reference's `begin_xact(for_write=True)`), so no
    *    concurrent writer can change which rows count as unmatched; like
    *    the reference, the upsert commits as two versions (update, then
    *    insert).
    *  - `cascade=false` leaves dependent computed columns STALE (the
    *    reference's `cascade` flag): only the set columns change.
    *  - `returnRows=true` populates `UpdateStatus.rows` with one
    *    column→value map per affected row (updated AND upserted), read
    *    back from the committed version — a small-batch surface, like the
    *    reference's `return_rows`.
    */
  def batchUpdateStatus(updates0: DataFrame, keyCols: Seq[String],
      cascade: Boolean = true, ifNotExists: String = "error",
      returnRows: Boolean = false): GraftTable.UpdateStatus =
    catalog.withWriterLock(name) {
      require(Set("error", "ignore", "insert")(ifNotExists),
        s"ifNotExists must be one of error|ignore|insert, got '$ifNotExists'")
      // the reference's `_rowid` pseudo-column lookup (local_table.py:973-
      // 988): rows may be addressed by stable row id instead of a key —
      // the join itself works unchanged (the stored image carries _rowid),
      // only the probe/read-back need the system-column view. Upserting a
      // nonexistent ROW ID is meaningless, so insert mode requires user keys.
      val hasRowId = keyCols.contains(GraftTable.RowId)
      require(!(hasRowId && ifNotExists == "insert"),
        "ifNotExists='insert' requires user key columns, not _rowid")
      // batch_update frames are small key-lists by contract (the
      // reference's SqlLookupNode shape): collect the caller's frame ONCE
      // to the driver and rebuild it as a local relation. One execution of
      // the caller's arbitrary subplan where r15's localCheckpoint spent a
      // job materializing plus a job per probe (key list, unmatched
      // anti-join, isEmpty) — those probes are now driver-side set lookups
      // with ZERO Spark jobs — and no executor-storage pin: localCheckpoint
      // blocks are non-reliable, so an executor loss on a real cluster
      // failed the update (r15 ADVICE). Key columns are cast to the
      // TABLE's declared key types first, so driver-side tuple equality
      // matches the join's coercion semantics (int update keys against a
      // bigint column compare widened, exactly as `===` would).
      val mTypes = meta
      val keyType: Map[String, String] =
        (mTypes.liveColumns.map(c => c.name -> c.dataType) :+
          (GraftTable.RowId -> "bigint")).toMap
      val aligned = keyCols.foldLeft(updates0) { (d, k) =>
        keyType.get(k).fold(d)(t => d.withColumn(k, col(k).cast(t)))
      }
      val updSchema = aligned.schema
      val updRows: Seq[org.apache.spark.sql.Row] = aligned.collect().toSeq
      val updates = { // LocalRelation: probes/joins below re-execute nothing
        val list = new java.util.ArrayList[org.apache.spark.sql.Row](updRows.size)
        updRows.foreach(list.add)
        spark.createDataFrame(list, updSchema)
      }
      val keyIdx = keyCols.map(updSchema.fieldIndex)
      val updKeyTuples: Seq[Seq[Any]] =
        updRows.map(r => keyIdx.map(i => r.get(i)))
      val (st0, matchedKeys) =
        batchUpdateInner(updates, updKeyTuples, keyCols, cascade, ifNotExists)
      maintainIndexes()
      squashIfUnversioned()
      val st = attachCacheWarnings(st0)
      // upsert leg: unmatched rows come straight from the driver-held rows
      // (decided against the live image inside the inner probe, all under
      // the writer lock) — no anti-join job, no stale-plan hazard on
      // unversioned tables. Commits as its own version, like the reference.
      val missingRows =
        if (ifNotExists != "insert") Seq.empty
        else updRows.filter(r => !matchedKeys.contains(joinKey(keyIdx.map(i => r.get(i)))))
      val merged =
        if (missingRows.isEmpty) st
        else {
          val m = meta
          val inputCols = m.liveColumns.filter(c => c.computedExpr.isEmpty)
          val list = new java.util.ArrayList[org.apache.spark.sql.Row](missingRows.size)
          missingRows.foreach(list.add)
          val ins = inputCols.foldLeft(spark.createDataFrame(list, updSchema)) {
            (d, c) =>
              if (d.columns.contains(c.name)) d
              else d.withColumn(c.name, lit(null).cast(c.dataType))
          }.select(inputCols.map(c => col(c.name)): _*)
          val is = insertStatus(ins)
          GraftTable.UpdateStatus(is.version,
            numRows = st.numRows + is.numRows,
            numComputedValues = st.numComputedValues + is.numComputedValues,
            numExcs = st.numExcs + is.numExcs,
            updatedCols = (st.updatedCols ++ is.updatedCols).distinct,
            colsWithExcs = (st.colsWithExcs ++ is.colsWithExcs).distinct,
            cacheWarnings = st.cacheWarnings ++ is.cacheWarnings)
        }
      if (!returnRows) merged
      else {
        // read-back of the committed rows: one key-list-pruned scan (the
        // isin predicates push to the parquet footers)
        val touched = (if (hasRowId) readWithSystem() else read())
          .filter(keyListPredicate(keyCols, updKeyTuples))
          .drop(VMin, VMax) // row identity stays, MVCC bookkeeping doesn't
          .join(broadcast(updates.select(keyCols.map(col): _*).distinct()),
            keyCols, "left_semi")
        val cols = touched.columns
        merged.copy(rows =
          Some(touched.collect().toSeq.map(_.getValuesMap[Any](cols))))
      }
    }

  /** per-column isin conjunction over the driver-held key tuples: pushes to
    * the parquet scan (row-group pruning) so every table probe is a key-list
    * LOOKUP, never a full scan. Over-selects on composite keys (cross
    * products) — callers decide exact membership by tuple.
    */
  private def keyListPredicate(keyCols: Seq[String],
      tuples: Seq[Seq[Any]]): org.apache.spark.sql.Column = {
    val distinctTuples = tuples.distinct
    if (distinctTuples.isEmpty) lit(false)
    else keyCols.zipWithIndex.map { case (k, i) =>
      // nulls never equi-match; dropping them from the isin set changes
      // nothing (a null-keyed update row stays unmatched either way)
      val vals = distinctTuples.map(_(i)).filter(_ != null).distinct
      if (vals.isEmpty) lit(false) else col(k).isInCollection(vals)
    }.reduce(_ && _)
  }

  /** A driver-side key tuple with the join's equality: binary values
    * compare by content, -0.0 equals 0.0 and NaN equals NaN (Spark
    * normalizes floating-point join keys the same way).
    */
  private def joinKey(t: Seq[Any]): Seq[Any] = t.map {
    case b: Array[Byte] => b.toSeq
    case d: Double => if (d.isNaN) JoinKeyNaN else if (d == 0.0) 0.0 else d
    case f: Float => if (f.isNaN) JoinKeyNaN else if (f == 0.0f) 0.0f else f
    case v => v
  }

  private case object JoinKeyNaN

  /** Runs the COW update. Returns the status plus the set of update key
    * tuples that matched a live row (the upsert leg's complement). The ONE
    * probe scan inside answers both the `ifNotExists` decision and the COW
    * file pruning — r15 ran a separate job for each (unmatched anti-join,
    * image.isEmpty, hitFiles collect).
    */
  private def batchUpdateInner(updates: DataFrame, updKeyTuples: Seq[Seq[Any]],
      keyCols: Seq[String], cascade: Boolean, ifNotExists: String)
      : (GraftTable.UpdateStatus, Set[Seq[Any]]) = retryOnConflict {
    val m = meta
    m.primaryKey.filter(k => updates.columns.contains(k) && !keyCols.contains(k))
      .foreach(k => throw new IllegalArgumentException(
        s"cannot update primary key column '$k' — match on it instead"))
    // reference _validate_update_spec (table_version.py:1239-1241)
    m.liveColumns.filter(c => c.computedExpr.isDefined &&
        updates.columns.contains(c.name) && !keyCols.contains(c.name))
      .foreach(c => throw new IllegalArgumentException(
        s"column ${c.name} is computed and cannot be updated"))
    val v = m.currentVersion + 1
    val setCols = updates.columns.filterNot(keyCols.contains).toSeq
    require(setCols.nonEmpty, "batchUpdate needs at least one non-key column")
    val distinctTuples = updKeyTuples.map(joinKey).toSet
    val files = m.activeFiles(m.currentVersion)
    // ONE key-list-pruned probe: live rows matching the per-column isin
    // predicates, with their exact key tuple and containing file
    val probe: Array[org.apache.spark.sql.Row] =
      if (files.isEmpty || distinctTuples.isEmpty) Array.empty
      else toLogical(
          spark.read.option("mergeSchema", "true").parquet(files: _*), m)
        .filter(col(VMax) === Live && keyListPredicate(keyCols, updKeyTuples))
        .select((input_file_name().as(FileCol) +: keyCols.map(col)): _*)
        .collect()
    // exact tuple membership decided here (the isin conjunction over-
    // selects composite keys)
    val exact = probe.iterator
      .map(r => (r.getString(0), joinKey(Seq.tabulate(keyCols.length)(i => r.get(i + 1)))))
      .filter { case (_, t) => distinctTuples.contains(t) }
      .toSeq
    val matchedKeys = exact.map(_._2).toSet
    if (ifNotExists == "error") {
      val nMissing = updKeyTuples.count(t => !matchedKeys.contains(joinKey(t)))
      if (nMissing > 0) throw new NoSuchElementException(
        s"batch_update(): $nMissing row(s) not found")
    }
    val hitFiles = exact.map(_._1).distinct
    if (hitFiles.isEmpty)
      return (GraftTable.UpdateStatus(noopVersion(m, v, "batch_update"), 0L, 0L),
        matchedKeys)
    // the rewrite reads ONLY the touched files (the old path scanned every
    // active file again and filtered on input_file_name, which prunes
    // nothing at the scan)
    val renamed = updates.columns.foldLeft(updates)((d, c) => d.withColumnRenamed(c, s"_u_$c"))
    val image = toLogical(
      spark.read.option("mergeSchema", "true").parquet(hitFiles: _*), m)
    val joinCond = keyCols.map(k => image(k) === renamed(s"_u_$k")).reduce(_ && _)
    // updates frames are small key-lists: broadcast them
    val touched = image.join(broadcast(renamed), joinCond, "left_outer")
    val hit = col(VMax) === Live && col(s"_u_${keyCols.head}").isNotNull
    val dropU = (d: DataFrame) =>
      renamed.columns.foldLeft(d)((x, u) => x.drop(u))
    val closed = dropU(touched.withColumn(VMax, when(hit, lit(v)).otherwise(col(VMax))))
    var updated = touched.filter(hit)
    setCols.foreach(c => updated = updated.withColumn(c, col(s"_u_$c")))
    val cascaded = if (cascade) dependentComputed(m, setCols.toSet) else Seq.empty
    updated = (if (cascade) recomputeCascade(dropU(updated), setCols.toSet, m)
               else dropU(updated))
      .withColumn(VMin, lit(v))
      .withColumn(VMax, lit(Live))
      .select(closed.columns.map(col): _*)
    val leaves = errorLeafDescriptors(m)
    val obs = org.apache.spark.sql.Observation()
    val metrics = sum(when(col(VMin) === v, 1L)).as("_n") +:
      leaves.zipWithIndex.map { case ((_, _, isErr), i) =>
        sum(when(col(VMin) === v && isErr, 1L)).as(s"_exc_$i") }
    val out = closed.union(updated).observe(obs, metrics.head, metrics.tail: _*)
    val ver = rewrite(m, v, "batch_update", out, manifestFilesMatching(m, hitFiles))
    val n = Option(obs.get("_n")).collect { case x: java.lang.Long => x.longValue() }
      .getOrElse(0L)
    val excCounts = leaves.zipWithIndex.map { case ((nm, _, _), i) =>
      nm -> Option(obs.get(s"_exc_$i"))
        .collect { case x: java.lang.Long => x.longValue() }.getOrElse(0L)
    }.filter(_._2 > 0)
    (GraftTable.UpdateStatus(ver, numRows = n,
      numComputedValues = n * cascaded.length,
      numExcs = excCounts.map(_._2).sum,
      updatedCols = setCols.sorted ++ cascaded,
      colsWithExcs = excCounts.map(_._1)), matchedKeys)
  }

  /** Re-evaluate one or more stored computed columns (reference
    * `recompute_columns`, `catalog/table.py:1025-1060`): the use case is a
    * UDF or external function whose behavior changed since the values were
    * materialized — a cascade alone never re-runs the column itself.
    * `whereSql` restricts the rewrite to matching rows (file-pruned COW,
    * like `update`); `cascade` also recomputes transitive dependents.
    * `errorsOnly=true` (reference `recompute_columns(errors_only=True)`,
    * `catalog/table.py:1031-1040`) restricts to rows whose single named
    * column is in error state — non-null `errortype` in its cellmd-style
    * struct or a non-null `<col>_errormsg` sidecar — and, like the
    * reference, is only allowed with exactly one column.
    * Produces a normal version: time travel sees the old values.
    */
  def recomputeColumns(columns: Seq[String], whereSql: Option[String] = None,
      cascade: Boolean = true, errorsOnly: Boolean = false): Long = {
    val v = retryOnConflict {
      val m = meta
      val v = m.currentVersion + 1
      require(columns.nonEmpty, "no columns to recompute")
      require(!errorsOnly || columns.size == 1,
        "cannot use errorsOnly=true with multiple columns")
      columns.foreach { c =>
        val cd = m.liveColumns.find(_.name == c)
          .getOrElse(throw new IllegalArgumentException(s"no column $c on $name"))
        require(cd.computedExpr.isDefined, s"column $c is not computed")
        require(cd.stored,
          s"column $c is unstored — it always evaluates fresh, nothing to recompute")
      }
      val basePred = whereSql.map(expr).getOrElse(lit(true))
      val pred = if (!errorsOnly) basePred else {
        val leaves = errorLeafDescriptors(m).filter(_._1 == columns.head)
        require(leaves.nonEmpty, s"column ${columns.head} has no error " +
          "surface (no errortype struct field or _errormsg sidecar)")
        basePred && leaves.map(_._3).reduce(_ || _)
      }
      withTouchedFiles(m, pred) match {
        case None => noopVersion(m, v, "recompute")
        case Some((touchedDf, touchedFiles)) =>
          val hit = col(VMax) === Live && pred
          val closed = touchedDf.withColumn(VMax,
            when(hit, lit(v)).otherwise(col(VMax)))
          var updated = touchedDf.filter(hit)
          // the named columns re-evaluate in dependency order (one named
          // column may feed another); the cascade then picks up dependents
          m.computedInTopoOrder.filter(c => columns.contains(c.name))
            .foreach(c => updated = updated.withColumn(c.name,
              expr(c.computedExpr.get).cast(c.dataType)))
          if (cascade) updated = recomputeCascade(updated, columns.toSet, m)
          updated = updated
            .withColumn(VMin, lit(v))
            .withColumn(VMax, lit(Live))
            .select(closed.columns.map(col): _*)
          rewrite(m, v, "recompute", closed.union(updated), touchedFiles)
      }
    }
    // recomputed rows may carry new values for an indexed embedding column
    maintainIndexes()
    squashIfUnversioned()
    v
  }

  /** Add a (possibly computed) column; existing rows are backfilled in one
    * batch rewrite (reference `add_computed_column` backfill,
    * `plan.py:1230-1247`) — schema changes touch every file by nature.
    * `ifExists` is the reference's directive (`catalog/table.py:363-368`):
    * `"error"` raises on an existing column, `"ignore"` no-ops (returns
    * the current version), `"replace"`/`"replace_force"` drop the existing
    * column first — iff it has no dependents (computed columns or indexes
    * referencing it raise, exactly like `dropColumn`).
    */
  def addColumn(c0: ColumnDef, ifExists: String = "error"): Long = {
    require(Set("error", "ignore", "replace", "replace_force")(ifExists),
      s"ifExists must be one of error|ignore|replace|replace_force, got '$ifExists'")
    val ver = catalog.withWriterLock(name) {
      if (meta.liveColumns.exists(_.name == c0.name)) ifExists match {
        case "error" => throw new IllegalArgumentException(
          s"column ${c0.name} exists")
        case "ignore" => return meta.currentVersion
        case _ => dropColumn(c0.name) // raises if the column has dependents
      }
      addColumnInner(c0)
    }
    squashIfUnversioned()
    ver
  }

  private def addColumnInner(c0: ColumnDef): Long = retryOnConflict {
    val m = meta
    require(!m.liveColumns.exists(_.name == c0.name), s"column ${c0.name} exists")
    val v = m.currentVersion + 1
    // re-adding a DROPPED name (reference allows it; the if_exists='replace'
    // path depends on it): the dropped column keeps its store column in
    // pre-drop files for time travel, so the new column gets a fresh
    // physical name — Delta-style column mapping, same machinery as rename
    val clash = m.columns.exists(x => x.name == c0.name || x.storeName == c0.name)
    val cBase = if (!clash || c0.physicalName.nonEmpty) c0 else {
      var i = 2
      while (m.columns.exists(x => x.storeName == s"${c0.name}__r$i" ||
        x.name == s"${c0.name}__r$i")) i += 1
      c0.copy(physicalName = s"${c0.name}__r$i")
    }
    val c = cBase.copy(addedVersion = v) // stamp for versioned-schema time travel
    val newMeta = m.copy(columns = m.columns :+ c)
    if (c.computedExpr.isDefined && !c.stored) { // purely logical: no rewrite
      commitMeta(m, newMeta.copy(versions =
        m.versions :+ entry(v, "add_column", Seq.empty, Seq.empty)))
      return v
    }
    val image = storedImage(m)
    val out = c.computedExpr match {
      case Some(e) => image.withColumn(c.name, expr(e).cast(c.dataType))
      case None    => image.withColumn(c.name, lit(null).cast(c.dataType))
    }
    val dir = dataDir(v, "add_column")
    toPhysical(out, newMeta).write.mode("overwrite").parquet(dir)
    commitMetaOrClean(m, newMeta.copy(versions = m.versions :+
      entry(v, "add_column", listParquetFiles(dir), m.activeFiles(m.currentVersion)),
      nextRowId = m.nextRowId), dir)
    v
  }

  /** Drop a column: metadata-only (`droppedVersion` stamp) — no file rewrite,
    * so dropping a column on a 100 TB table is O(1). Time travel to versions
    * before the drop still shows it; later rewrites of touched files shed the
    * physical data (reference `drop_column`, `catalog/table.py`).
    */
  def dropColumn(colName: String, ifNotExists: String = "error"): Long = retryOnConflict {
    require(Set("error", "ignore")(ifNotExists),
      s"ifNotExists must be error|ignore, got '$ifNotExists'")
    val m = meta
    // reference drop_column(if_not_exists='ignore'): absent column no-ops
    if (ifNotExists == "ignore" && !m.liveColumns.exists(_.name == colName))
      return m.currentVersion
    val c = m.liveColumns.find(_.name == colName)
      .getOrElse(throw new IllegalArgumentException(s"no column $colName on $name"))
    val dependents = m.liveColumns.filter(d => d.name != colName &&
      d.computedExpr.exists(e => ColumnDef.exprReferences(e).contains(colName)))
    require(dependents.isEmpty,
      s"cannot drop $colName: computed column(s) ${dependents.map(_.name).mkString(", ")} depend on it")
    // a dangling IndexDef would make every subsequent insert fail inside
    // maintainIndexes (filter on a column that no longer exists)
    val idxDeps = m.indexes.filter(ix => ix.column == colName || ix.idCol == colName)
    require(idxDeps.isEmpty,
      s"cannot drop $colName: index(es) ${idxDeps.map(_.name).mkString(", ")} " +
        "use it; dropIndex first")
    val v = m.currentVersion + 1
    commitMeta(m, m.copy(
      columns = m.columns.map(x => if (x.name == colName && x.liveAt(m.currentVersion))
        x.copy(droppedVersion = v) else x),
      versions = m.versions :+ entry(v, "drop_column", Seq.empty, Seq.empty)))
    v
  }

  /** Rename a column: metadata-only. The parquet files keep the original
    * (physical) name; the mapping lives in `ColumnDef.physicalName` (Delta
    * column-mapping style), so rename is O(1) at any table size. Renames are
    * retroactive: history reads show the new name.
    */
  def renameColumn(oldName: String, newName: String): Long = retryOnConflict {
    val m = meta
    require(m.liveColumns.exists(_.name == oldName), s"no column $oldName on $name")
    require(!m.liveColumns.exists(_.name == newName), s"column $newName exists")
    val dependents = m.liveColumns.filter(d =>
      d.computedExpr.exists(e => ColumnDef.exprReferences(e).contains(oldName)))
    require(dependents.isEmpty,
      s"cannot rename $oldName: computed column(s) ${dependents.map(_.name).mkString(", ")} reference it")
    val v = m.currentVersion + 1
    commitMeta(m, m.copy(
      columns = m.columns.map(x => if (x.name == oldName && x.liveAt(m.currentVersion))
        x.copy(name = newName, physicalName = x.storeName) else x),
      // index defs address columns by LOGICAL name — follow the rename, or
      // maintenance/search would reference a name that no longer resolves
      indexes = m.indexes.map(ix => ix.copy(
        column = if (ix.column == oldName) newName else ix.column,
        idCol = if (ix.idCol == oldName) newName else ix.idCol)),
      versions = m.versions :+ entry(v, "rename_column", Seq.empty, Seq.empty)))
    v
  }

  /** Roll the table back to `toVersion`: truncates the version log (later
    * data files become orphans, exactly like the reference's revert) and
    * drops columns added after `toVersion` (schema is versioned too).
    * Refuses if a named snapshot pins a later version — reverting would
    * silently change (and vacuum would delete) the snapshot's contents,
    * matching the reference `_revert`'s refusal.
    */
  def revert(toVersion: Long): Unit = retryOnConflict {
    require(meta.isVersioned,
      s"$name is unversioned — no history to revert to")
    val m = meta
    require(toVersion <= m.currentVersion, s"cannot revert forward to $toVersion")
    // view-lineage marks (reserved prefixes) hold BASE-table versions, not
    // versions of this table — they are not pins and must not block revert
    val pinned = m.snapshots.filter { case (k, v) =>
      v > toVersion && !Views.isLineageKey(k) }
    require(pinned.isEmpty,
      s"cannot revert to $toVersion: snapshot(s) ${pinned.keys.mkString(", ")} pin later versions")
    commitMeta(m, m.copy(
      versions = m.versions.filter(_.version <= toVersion),
      columns = m.columns.filter(_.addedVersion <= toVersion).map { c =>
        // a drop that happened after toVersion never happened
        if (c.droppedVersion > toVersion && c.droppedVersion != Long.MaxValue)
          c.copy(droppedVersion = Long.MaxValue)
        else c
      },
      // clamp the index high-water marks so post-revert inserts (which
      // reuse the rolled-back version numbers) are picked up again;
      // reverted-away rows left in segments are ghosts the live re-rank
      // in searchIndex already drops
      indexes = m.indexes.map(ix =>
        ix.copy(indexedThrough = math.min(ix.indexedThrough, toVersion))),
      // signal the revert to incremental views order-independently: later
      // inserts reuse the truncated version numbers, so a view comparing
      // only currentVersion to its lastSeen mark could miss the revert
      // entirely (ADVICE r5). The epoch only ever grows.
      revertEpoch = m.revertEpoch + 1))
  }

  /** Small-file compaction (the lakehouse OPTIMIZE maintenance op): merge
    * the current version's active file set into `targetFiles` files as a
    * new version. Physical rows — including closed history rows with
    * `_v_max` set — are copied byte-identical, so every read and every
    * time travel ≤ the pre-compact version is unchanged; only the layout
    * shrinks. Prior versions keep referencing the old files (removed here
    * only from the NEW manifest), so nothing is deleted until `vacuum`.
    * At 100 TB this is the defense against manifest bloat from many small
    * streaming/DML versions — O(live data) rewrite, metadata-only for
    * every older version.
    */
  /** `clusterBy` (the lakehouse OPTIMIZE ... CLUSTER BY analog, linear
    * form): range-partition the rewrite on the given columns and sort
    * within each file, so every output file covers a DISJOINT value
    * range and its parquet footer min/max becomes selective — predicate
    * scans over the clustered columns then skip whole files/row groups.
    * At 100 TB this turns a full-corpus point/range query into a
    * footer-pruned scan without any index structure to maintain.
    *
    * `zOrder=true` (with ≥2 cluster columns) interleaves equi-depth rank
    * bits instead (`operators/ZOrder`) — the `OPTIMIZE ... ZORDER BY`
    * form: every file covers a small hyper-rectangle of the value space,
    * so footers prune on ANY clustered column, where the linear form is
    * only selective on the leading one.
    *
    * `bloomFilterCols` writes parquet bloom filters for the named columns
    * — the data-skipping leg min/max cannot give: equality lookups on
    * high-cardinality or hash-like columns (ids, digests, urls) whose
    * value ranges overlap every file. Spark's reader feeds pushed
    * equality predicates through parquet-mr's BLOOMFILTER row-group
    * level, so at 100 TB a point lookup on an unclustered digest column
    * skips the row groups the filter rejects without any index structure.
    * `bloomFilterNdv` sizes the filter (expected distinct values per
    * file; 0 = parquet's default sizing). Note parquet-mr OMITS the bloom
    * for a chunk that stayed fully dictionary-encoded — the dictionary
    * page is already an exact membership filter there, so skipping still
    * works; blooms appear exactly where they matter (high-cardinality
    * chunks that fell back to plain encoding).
    */
  /** Declare the table's physical-layout policy (persisted in meta —
    * survives sessions, applied by `optimize()`). Column names validate
    * against the live schema here; type constraints (z-order needs
    * ordered domains) validate at optimize time against the data.
    */
  def setLayoutPolicy(policy: LayoutPolicy): Unit = retryOnConflict {
    val m = meta
    (policy.clusterBy ++ policy.bloomFilterCols).foreach { c =>
      require(m.liveColumns.exists(_.name == c), s"no such column: '$c'")
    }
    require(!policy.zOrder || policy.clusterBy.size >= 2,
      "zOrder policy needs at least 2 clusterBy columns")
    require(policy.targetFileBytes > 0, "targetFileBytes must be positive")
    commitMeta(m, m.copy(layout = Some(policy)))
  }

  def layoutPolicy: Option[LayoutPolicy] = meta.layout

  /** Apply the declared layout policy: one clustered/bloom-filtered
    * rewrite sized by TARGET FILE BYTES — the file count is derived from
    * the live data volume (driver-side filesystem metadata only), so the
    * same policy stays right from 60 k rows to 100 TB where any fixed
    * file count cannot.
    */
  def optimize(): Long = {
    val policy = layoutPolicy.getOrElse(throw new IllegalStateException(
      s"$name has no layout policy — setLayoutPolicy(...) first"))
    val m = meta
    val files = m.activeFiles(m.currentVersion)
    val conf = spark.sessionState.newHadoopConf()
    val totalBytes = files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    val targetFiles = math.max(1L,
      (totalBytes + policy.targetFileBytes - 1) / policy.targetFileBytes)
      .min(Int.MaxValue.toLong).toInt
    compact(targetFiles, policy.clusterBy, policy.zOrder,
      policy.bloomFilterCols, policy.bloomFilterNdv)
  }

  def compact(targetFiles: Int = 1, clusterBy: Seq[String] = Seq.empty,
      zOrder: Boolean = false, bloomFilterCols: Seq[String] = Seq.empty,
      bloomFilterNdv: Long = 0L): Long = {
    val ver = compactInner(targetFiles, clusterBy, zOrder, bloomFilterCols,
      bloomFilterNdv)
    squashIfUnversioned()
    ver
  }

  private def compactInner(targetFiles: Int,
      clusterBy: Seq[String] = Seq.empty,
      zOrder: Boolean = false,
      bloomFilterCols: Seq[String] = Seq.empty,
      bloomFilterNdv: Long = 0L): Long = retryOnConflict {
    val m = meta
    val v = m.currentVersion + 1
    val files = m.activeFiles(m.currentVersion)
    // zero active files: nothing to rewrite regardless of clusterBy —
    // spark.read.parquet() with no paths would throw instead of noop-ing
    if (files.isEmpty) return noopVersion(m, v, "compact")
    if (files.size <= targetFiles && clusterBy.isEmpty &&
        bloomFilterCols.isEmpty)
      return noopVersion(m, v, "compact")
    // physical read/write: no logical translation, column mapping and
    // system columns pass through untouched. clusterBy names are LOGICAL;
    // the physical files store under storeName (rename mapping).
    val phys = clusterBy.map { c =>
      m.liveColumns.find(_.name == c).getOrElse(throw new IllegalArgumentException(
        s"no such column to cluster by: '$c'")).storeName
    }
    require(!zOrder || phys.size >= 2,
      "zOrder clustering needs at least 2 clusterBy columns (use the linear form for 1)")
    val raw0 = spark.read.option("mergeSchema", "true").parquet(files: _*)
    if (zOrder) phys.foreach { c =>
      // numeric domains bucket via the native quantile kernel; strings via
      // order-preserving sampled cuts (ZOrder.cluster) — both leave the
      // footer min/max selective. Anything else (binary, nested) has no
      // prunable footer order — refuse rather than silently degrade.
      val dt = raw0.schema(c).dataType.typeName
      require(dt == "string" || Set("byte", "short", "integer", "long",
        "float", "double", "decimal").exists(dt.startsWith),
        s"z-order column '$c' has unordered-or-unprunable type $dt")
    }
    val raw =
      if (phys.isEmpty) raw0.repartition(targetFiles)
      else if (zOrder)
        // Morton interleave of equi-depth ranks (operators/ZOrder, native
        // codegen kernel): range-partitioning the z-value gives each file
        // a small hyper-rectangle of the clustered value space
        graft.operators.ZOrder.cluster(raw0, phys,
          numBuckets = 256, partitions = targetFiles)
      else raw0.repartitionByRange(targetFiles, phys.map(col): _*)
        .sortWithinPartitions(phys.map(col): _*)
    val dir = dataDir(v, "compact")
    val bloomPhys = bloomFilterCols.map { c =>
      m.liveColumns.find(_.name == c).getOrElse(throw new IllegalArgumentException(
        s"no such column for bloom filter: '$c'")).storeName
    }
    val writer = bloomPhys.foldLeft(raw.write.mode("overwrite")) { (w, c) =>
      val w1 = w.option(s"parquet.bloom.filter.enabled#$c", "true")
      if (bloomFilterNdv > 0)
        w1.option(s"parquet.bloom.filter.expected.ndv#$c", bloomFilterNdv.toString)
      else w1
    }
    writer.parquet(dir)
    commitMetaOrClean(m, m.copy(versions = m.versions :+
      entry(v, "compact", listParquetFiles(dir), files)), dir)
    v
  }

  /** Physically remove data files no longer reachable from any version ≤
    * current (orphans left behind by revert). Named snapshots always stay
    * reachable because they pin log versions. Irreversible: time travel to
    * reverted-away versions is gone after vacuum.
    */
  def vacuum(): Seq[String] = catalog.withWriterLock(name) {
    // under the writer lock: without it, vacuum could load meta BEFORE a
    // concurrent insert's commit but list the filesystem AFTER its files
    // landed — and delete the freshly committed data as "unreachable".
    // The lock blocks same-machine writers for the scan; the meta reloads
    // inside the window. (Out-of-band writers on shared storage keep the
    // same caveat as the lock protocol itself — see Catalog.withFileLock.)
    val m = meta
    val reachable = m.versions.flatMap(_.added).toSet
    def norm(s: String) = new org.apache.hadoop.fs.Path(s).toUri.getPath
    val reachableNorm = reachable.map(norm)
    val dataRoot = new org.apache.hadoop.fs.Path(s"${catalog.warehouse}/$name/data")
    val fs = dataRoot.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dataRoot)) return Seq.empty
    val it = fs.listFiles(dataRoot, true)
    val removed = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next()
      val p = f.getPath.toString
      if (f.getPath.getName.startsWith("part-") && !reachableNorm.contains(norm(p))) {
        fs.delete(f.getPath, false)
        removed += p
      }
    }
    removed.toSeq
  }

  /** Pin the current version under a name (immutable snapshot). */
  def createSnapshot(snapshot: String): Long = retryOnConflict {
    // the snapshots map doubles as view-lineage storage; a user snapshot
    // under the reserved prefix would corrupt a view's high-water mark
    require(!snapshot.startsWith(Views.lastSeenPrefix),
      s"snapshot name '$snapshot' uses the reserved prefix '${Views.lastSeenPrefix}'")
    val m = meta
    require(m.isVersioned,
      s"$name is unversioned — snapshots would pin history it doesn't keep")
    commitMeta(m, m.copy(snapshots = m.snapshots + (snapshot -> m.currentVersion)))
    m.currentVersion
  }

  // ---------- ANN indexes (DML-maintained) ----------

  /** Declare a sharded HNSW index over `column` (ids from `idCol`): built
    * over the live table now and MAINTAINED BY DML from then on — every
    * `insert` appends its rows as a fresh segment with no manual call
    * (reference: indexes update transparently inside the insert plan,
    * `plan.py:380-390`), and past `segmentThreshold` segments the index is
    * rebuilt at `shards` segments so streaming appends keep a bounded
    * search fan-out.
    */
  /** reference add_embedding_index(if_exists=...) collision directive,
    * shared by all three index kinds: error raises, ignore keeps the
    * existing index (kind not compared, like the reference), replace and
    * replace_force drop it first (identical for indexes — they have no
    * dependents). Returns true to short-circuit (ignore).
    */
  private def indexCollision(idxName: String, ifExists: String): Boolean = {
    require(Set("error", "ignore", "replace", "replace_force")(ifExists),
      s"ifExists must be one of error|ignore|replace|replace_force, got '$ifExists'")
    if (!meta.indexes.exists(_.name == idxName)) false
    else ifExists match {
      case "error" =>
        throw new IllegalArgumentException(s"index $idxName exists on $name")
      case "ignore" => true
      case _ => dropIndex(idxName); false
    }
  }

  def createHnswIndex(idxName: String, column: String, idCol: String,
      shards: Int = 4, hnswM: Int = 16, efConstruction: Int = 100,
      segmentThreshold: Int = 16, ifExists: String = "error"): Unit =
    retryOnConflict {
    if (indexCollision(idxName, ifExists)) return
    val m = meta
    require(!m.indexes.exists(_.name == idxName), s"index $idxName exists on $name")
    val path = s"${catalog.warehouse}/$name/index/$idxName"
    graft.operators.Hnsw.buildIndex(
      read().filter(col(column).isNotNull), column, idCol, path,
      shards, hnswM, efConstruction)
    commitMeta(m, m.copy(indexes = m.indexes :+ IndexDef(idxName, column,
      idCol, "hnsw", path, shards, hnswM, efConstruction, segmentThreshold,
      indexedThrough = m.currentVersion)))
  }

  /** Declare an IVF-PQ index over `column` (graft.operators.Pq — the
    * faiss-IVFPQ layout: 8-byte codes, 32× compression at d=64, ADC
    * candidate scoring off codes only). Maintained by DML like the HNSW
    * index: inserts ENCODE their rows with the existing model into a
    * fresh code segment (no retrain — the PQ advantage for streaming
    * appends), and past `segmentThreshold` segments the model retrains
    * and all codes rewrite into a fresh dir swapped in via the CAS.
    * IndexDef field reuse for kind="ivfpq": `shards`=coarse cells,
    * `m`=subspaces, `efConstruction`=per-subspace codebook size.
    */
  def createIvfPqIndex(idxName: String, column: String, idCol: String,
      cells: Int = 8, pqM: Int = 8, pqKs: Int = 16,
      segmentThreshold: Int = 16, ifExists: String = "error"): Unit =
    retryOnConflict {
    if (indexCollision(idxName, ifExists)) return
    val m = meta
    require(!m.indexes.exists(_.name == idxName), s"index $idxName exists on $name")
    val path = s"${catalog.warehouse}/$name/index/$idxName"
    val live = read().filter(col(column).isNotNull)
    val model = graft.operators.Pq.build(live, column, idCol, cells, pqM, pqKs)
    graft.operators.Pq.saveModel(spark, s"$path/model", model)
    graft.operators.Pq.encode(live, column, idCol, model)
      .write.mode("overwrite").parquet(s"$path/codes/seg-init")
    commitMeta(m, m.copy(indexes = m.indexes :+ IndexDef(idxName, column,
      idCol, "ivfpq", path, cells, pqM, pqKs, segmentThreshold,
      indexedThrough = m.currentVersion)))
  }

  /** Declare a MinHash-LSH near-duplicate index over text `column` (ids
    * from `idCol`) — the INCREMENTAL path of `Dedup.nearDuplicatePairs`:
    * the batch operator recomputes every signature per run, this index
    * persists band signatures as DML-maintained segments so (a) all-pairs
    * dedup reuses them and (b) an incoming batch checks itself against a
    * 100 TB corpus by signing ONLY its own rows and probing the band join.
    * Same hash family as the batch operator (`Dedup.bandSignatures`), so
    * candidates match by construction; results are exact-Jaccard verified
    * against LIVE text, which is what makes stale segment rows harmless
    * (an updated row's old bands only donate extra candidates; its new
    * bands are appended by maintenance; deleted ids drop at the live
    * join). IndexDef field reuse for kind="minhash": `shards`=bands,
    * `m`=numHashes, `efConstruction`=shingleSize.
    *
    * Parameter choice governs CANDIDATE volume, never correctness (verify
    * is exact): with r = numHashes/bands rows per band, a pair at Jaccard
    * j band-collides with prob 1−(1−j^r)^bands — pick r so the S-curve
    * midpoint (1/bands)^(1/r) sits near the query threshold. The defaults
    * mirror the batch operator's (r=4, selective only on dissimilar
    * corpora); for a 0.9 threshold over same-domain text use e.g.
    * numHashes=64, bands=4 (midpoint ≈0.92 — ~1000× fewer candidates on
    * the synthetic corpus, measured in tools/MinhashScale).
    */
  def createMinhashIndex(idxName: String, column: String, idCol: String,
      numHashes: Int = 8, bands: Int = 2, shingleSize: Int = 3,
      segmentThreshold: Int = 16, ifExists: String = "error"): Unit =
    retryOnConflict {
    if (indexCollision(idxName, ifExists)) return
    val m = meta
    require(!m.indexes.exists(_.name == idxName), s"index $idxName exists on $name")
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val path = s"${catalog.warehouse}/$name/index/$idxName"
    graft.operators.Dedup.bandSignatures(
        read().filter(col(column).isNotNull), column, idCol,
        numHashes, bands, shingleSize)
      .write.mode("overwrite").parquet(s"$path/sigs/seg-init")
    commitMeta(m, m.copy(indexes = m.indexes :+ IndexDef(idxName, column,
      idCol, "minhash", path, bands, numHashes, shingleSize, segmentThreshold,
      indexedThrough = m.currentVersion)))
  }

  private def minhashIx(idxName: String): IndexDef = {
    val ix = meta.indexes.find(_.name == idxName)
      .getOrElse(throw new IllegalArgumentException(s"no index $idxName on $name"))
    require(ix.kind == "minhash", s"index $idxName is ${ix.kind}, not minhash")
    ix
  }

  /** segment rows (_id, _b, _h), ghost-deduped and restricted to LIVE ids */
  private def liveMinhashSigs(ix: IndexDef): DataFrame = {
    val segs = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"${ix.path}/sigs").dropDuplicates("_id", "_b", "_h")
    val liveIds = read().filter(col(ix.column).isNotNull)
      .select(col(ix.idCol).cast("long").as("_id"))
    segs.join(liveIds, Seq("_id"), "left_semi")
  }

  /** All verified near-duplicate pairs among LIVE rows through the index:
    * band-equality candidates from the persisted segments, exact Jaccard
    * (≥ `threshold`) against live text. Returns (_ida, _idb, jaccard),
    * _ida < _idb. Matches `Dedup.nearDuplicatePairs` on the same params.
    */
  def indexNearDupPairs(idxName: String, threshold: Double): DataFrame = {
    val ix = minhashIx(idxName)
    val sigs = liveMinhashSigs(ix)
    val cand = sigs.as("a").join(sigs.as("b"),
        col("a._b") === col("b._b") && col("a._h") === col("b._h"))
      .filter(col("a._id") < col("b._id"))
      .select(col("a._id").as("_ida"), col("b._id").as("_idb"))
      .distinct()
    val live = read().filter(col(ix.column).isNotNull)
    graft.operators.Dedup.verifyJaccardBetween(cand,
      live, ix.column, ix.idCol, live, ix.column, ix.idCol,
      ix.efConstruction, threshold)
  }

  /** Near-duplicates of an INCOMING batch against the indexed corpus — the
    * crawl-ingest / decontamination shape: sign only `docs`, probe the
    * band join, exact-verify against live corpus text. Returns
    * (query_id, doc_id, jaccard). The corpus is never re-signed.
    */
  def searchNearDups(idxName: String, docs: DataFrame, docTextCol: String,
      docIdCol: String, threshold: Double): DataFrame = {
    val ix = minhashIx(idxName)
    val qsigs = graft.operators.Dedup.bandSignatures(docs, docTextCol,
      docIdCol, ix.m, ix.shards, ix.efConstruction)
    val cand = qsigs.as("q").join(liveMinhashSigs(ix).as("c"),
        col("q._b") === col("c._b") && col("q._h") === col("c._h"))
      .select(col("q._id").as("_ida"), col("c._id").as("_idb"))
      .distinct()
    val live = read().filter(col(ix.column).isNotNull)
    graft.operators.Dedup.verifyJaccardBetween(cand,
        docs, docTextCol, docIdCol, live, ix.column, ix.idCol,
        ix.efConstruction, threshold)
      .select(col("_ida").as("query_id"), col("_idb").as("doc_id"),
        col("jaccard"))
  }

  private def readPqCodes(path: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(s"$path/codes")

  /** ANN search through a declared index. The graphs supply CANDIDATE ids
    * only; scores come from re-ranking against the LIVE vector column
    * (`Hnsw.searchRerank`'s broadcast-join shape) — so a row whose
    * embedding was updated ranks by its NEW vector even while an old
    * segment still carries the stale one, duplicate candidates from
    * multiple segments collapse (max score per id), and deleted rows drop
    * at the join. If heavy deletion leaves fewer than k live hits in the
    * over-fetched candidate set, the fetch escalates (×4) until satisfied
    * or the whole index has been considered.
    */
  def searchIndex(idxName: String, query: Seq[Double], k: Int,
      ef: Int = 64): DataFrame = {
    val m = meta
    val ix = m.indexes.find(_.name == idxName)
      .getOrElse(throw new IllegalArgumentException(s"no index $idxName on $name"))
    require(ix.kind != "minhash",
      s"index $idxName is a near-dup index — use indexNearDupPairs/searchNearDups")
    import graft.functions.VectorFunctions
    val live = read()
      .filter(col(ix.column).isNotNull)
      .select(col(ix.idCol).cast("long").as("vec_id"),
        col(ix.column).cast("array<double>").as("_vec"))
    val isPq = ix.kind == "ivfpq"
    val pqModel =
      if (isPq) Some(graft.operators.Pq.loadModel(spark, s"${ix.path}/model"))
      else None
    val pqCodes = if (isPq) Some(readPqCodes(ix.path)) else None
    // total indexed rows: code rows (pq) / segment summaries (hnsw)
    val total =
      if (isPq) pqCodes.get.count()
      else {
        val r = spark.read.parquet(ix.path).agg(sum(col("n"))).head
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
    val score = VectorFunctions.cosineSimilarity(col("_vec"),
      VectorFunctions.vectorLit(query))
    var fetch = math.max(4 * k, k + 8).toLong
    // pq escalation widens the coarse probe to ALL cells alongside the
    // candidate over-fetch (first pass probes the better half)
    var probeAll = false
    while (true) {
      val fi = math.min(fetch, Int.MaxValue.toLong).toInt
      val cands =
        if (isPq) {
          val kc = pqModel.get.kc
          val nprobe = if (probeAll) kc else math.max(1, (kc + 1) / 2)
          graft.operators.Pq.candidates(pqCodes.get, pqModel.get, query,
              fi, nprobe, ix.idCol)
            .withColumnRenamed(ix.idCol, "vec_id")
        } else graft.operators.Hnsw
          .search(spark, ix.path, query, fi, math.max(ef, fi))
          .select(col("vec_id")).dropDuplicates("vec_id")
      val ranked = live.join(broadcast(cands), Seq("vec_id"))
        .withColumn("cos_sim", score)
        .groupBy(col("vec_id")).agg(max(col("cos_sim")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(k)
      if (fetch >= total && (!isPq || probeAll)) return ranked
      val got = ranked.count()
      if (got >= k) return ranked
      fetch = math.min(total, fetch * 4)
      probeAll = true
    }
    throw new IllegalStateException("unreachable")
  }

  def dropIndex(idxName: String, ifNotExists: String = "error"): Unit = retryOnConflict {
    require(Set("error", "ignore")(ifNotExists),
      s"ifNotExists must be error|ignore, got '$ifNotExists'")
    val m = meta
    // reference drop_index(if_not_exists='ignore'): absent index no-ops
    if (ifNotExists == "ignore" && !m.indexes.exists(_.name == idxName)) return
    require(m.indexes.exists(_.name == idxName), s"no index $idxName on $name")
    commitMeta(m, m.copy(indexes = m.indexes.filterNot(_.name == idxName)))
    deleteIndexDirs(idxName)
  }

  /** Index catch-up, driven by the `indexedThrough` high-water mark: every
    * row VERSION minted since (inserts and the rewritten halves of
    * updates — identified as `_v_min > indexedThrough` inside just the
    * files the log added since, never a table rescan) is appended as a
    * fresh segment; then any index past its segment threshold is rebuilt
    * into a NEW directory and swapped in via the CAS (readers mid-query
    * keep their planned files — old dirs are removed only by dropIndex).
    * Runs post-commit under the writer lock, so maintenance never races a
    * concurrent insert's append or a rebuild. Crash between table commit
    * and here just leaves `indexedThrough` behind; the next pass repairs
    * from the log. A crash after the segment write but before the mark
    * commits can leave a duplicate segment — harmless, because
    * `searchIndex` re-ranks with max-per-id over live vectors.
    */
  private def maintainIndexes(): Unit = {
    if (meta.indexes.isEmpty) return
    catalog.withWriterLock(name) {
      val m = meta
      val cur = m.currentVersion
      val updated = m.indexes.map { ix =>
        if (ix.indexedThrough >= cur) ix
        else {
          val newFiles = m.versions
            .filter(e => e.version > ix.indexedThrough && e.version <= cur)
            .flatMap(_.added).distinct
          if (newFiles.nonEmpty) {
            val newRows = toLogical(spark.read.option("mergeSchema", "true")
              .parquet(newFiles: _*), m)
              .filter(col(VMin) > ix.indexedThrough &&
                col(ix.column).isNotNull)
            if (ix.kind == "ivfpq") {
              // encode with the EXISTING model — appends never retrain
              val model = graft.operators.Pq.loadModel(spark, s"${ix.path}/model")
              graft.operators.Pq.encode(newRows, ix.column, ix.idCol, model)
                .write.mode("overwrite").parquet(s"${ix.path}/codes/seg-v$cur")
            } else if (ix.kind == "minhash")
              // sign ONLY the new rows — the incremental-dedup point
              graft.operators.Dedup.bandSignatures(newRows, ix.column,
                  ix.idCol, ix.m, ix.shards, ix.efConstruction)
                .write.mode("overwrite").parquet(s"${ix.path}/sigs/seg-v$cur")
            else
              graft.operators.Hnsw.appendToIndex(newRows, ix.column, ix.idCol,
                ix.path, shards = 1, ix.m, ix.efConstruction)
          }
          // segment count: code/sig-segment dirs (pq, minhash) / index-table
          // rows (hnsw)
          def segDirCount(sub: String): Long = {
            val d = new java.io.File(s"${ix.path}/$sub")
            Option(d.listFiles()).map(_.count(f =>
              f.isDirectory && f.getName.startsWith("seg-"))).getOrElse(0).toLong
          }
          val segments =
            if (ix.kind == "ivfpq") segDirCount("codes")
            else if (ix.kind == "minhash") segDirCount("sigs")
            else spark.read.parquet(ix.path).count()
          val path =
            if (segments <= ix.segmentThreshold) ix.path
            else {
              val fresh = s"${catalog.warehouse}/$name/index/${ix.name}@v$cur"
              val live = read().filter(col(ix.column).isNotNull)
              if (ix.kind == "ivfpq") {
                // threshold rebuild RETRAINS: drift between the model and
                // the appended distribution resets here
                val model = graft.operators.Pq.build(live, ix.column,
                  ix.idCol, ix.shards, ix.m, ix.efConstruction)
                graft.operators.Pq.saveModel(spark, s"$fresh/model", model)
                graft.operators.Pq.encode(live, ix.column, ix.idCol, model)
                  .write.mode("overwrite").parquet(s"$fresh/codes/seg-init")
              } else if (ix.kind == "minhash")
                // threshold rebuild re-signs the live image: ghost rows
                // from updates/deletes drop here
                graft.operators.Dedup.bandSignatures(live, ix.column,
                    ix.idCol, ix.m, ix.shards, ix.efConstruction)
                  .write.mode("overwrite").parquet(s"$fresh/sigs/seg-init")
              else
                graft.operators.Hnsw.buildIndex(live,
                  ix.column, ix.idCol, fresh, ix.shards, ix.m, ix.efConstruction)
              fresh
            }
          ix.copy(path = path, indexedThrough = cur)
        }
      }
      if (updated != m.indexes)
        commitMeta(m, m.copy(indexes = updated))
    }
  }

  private def deleteIndexDirs(idxName: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(s"${catalog.warehouse}/$name/index")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n == idxName || n.startsWith(s"$idxName@")) fs.delete(st.getPath, true)
    }
  }

  // ---------- internals ----------

  /** Locate the active files containing live rows matching `pred`; returns
    * the stored rows of ONLY those files plus the manifest paths, or None
    * if nothing matches.
    */
  private def withTouchedFiles(m: TableMeta, pred: org.apache.spark.sql.Column)
      : Option[(DataFrame, Seq[String])] = {
    val files = m.activeFiles(m.currentVersion)
    if (files.isEmpty) return None
    val df = toLogical(
      spark.read.option("mergeSchema", "true").parquet(files: _*), m)
      .withColumn(FileCol, input_file_name())
    val hitFiles = df.filter(col(VMax) === Live && pred)
      .select(FileCol).distinct().collect().map(_.getString(0))
    if (hitFiles.isEmpty) None
    else Some((
      df.filter(col(FileCol).isin(hitFiles.toSeq: _*)).drop(FileCol),
      manifestFilesMatching(m, hitFiles)))
  }

  /** map input_file_name() URIs back to their manifest entries */
  private def manifestFilesMatching(m: TableMeta, fileUris: Seq[String]): Seq[String] = {
    def norm(s: String) = new org.apache.hadoop.fs.Path(s).toUri.getPath
    val hit = fileUris.map(norm).toSet
    m.activeFiles(m.currentVersion).filter(f => hit.contains(norm(f)))
  }

  /** full stored image (live + dead rows), logical column names.
    * mergeSchema handles files written before/after a drop_column.
    */
  private def storedImage(m: TableMeta): DataFrame = {
    val files = m.activeFiles(m.currentVersion)
    if (files.isEmpty) toLogical(emptyFrame(m), m)
    else toLogical(
      spark.read.option("mergeSchema", "true").parquet(files: _*), m)
  }

  /** recompute every stored computed column transitively downstream of the
    * dirty set (reference update cascade, `plan.py:414-485`).
    */
  private def recomputeCascade(df0: DataFrame, dirty0: Set[String], m: TableMeta): DataFrame = {
    var df = df0
    val dirty = scala.collection.mutable.Set(dirty0.toSeq: _*)
    m.computedInTopoOrder.filter(_.stored).foreach { c =>
      // parsed references, not regex: a column name inside a string literal
      // is not a dependency, and a backticked reference is
      val refsDirty = ColumnDef.exprReferences(c.computedExpr.get).exists(dirty.contains)
      if (refsDirty) {
        df = df.withColumn(c.name, expr(c.computedExpr.get).cast(c.dataType))
        dirty += c.name
      }
    }
    df
  }

  /** Test seam: runs just before every CAS attempt. Lets specs inject an
    * out-of-band commit inside the race window — the writer lock makes
    * real in-process conflicts impossible, so without this the replay
    * path would be unreachable from tests.
    */
  private[catalog] var onBeforeCommit: () => Unit = () => ()

  /** CAS-commit `updated` against the meta this mutation started from;
    * a concurrent commit in between raises ConcurrentModificationException
    * (caught by `retryOnConflict`, which replays the mutation).
    */
  private def commitMeta(base: TableMeta, updated: TableMeta): Unit = {
    onBeforeCommit()
    if (!catalog.commit(base.commitSeq, updated))
      throw new java.util.ConcurrentModificationException(
        s"concurrent write to table $name")
  }

  /** Like `commitMeta` but deletes this attempt's freshly written data
    * directory when the commit loses the race (nothing references it).
    */
  private def commitMetaOrClean(base: TableMeta, updated: TableMeta,
      dir: String): Unit =
    try commitMeta(base, updated)
    catch {
      case e: java.util.ConcurrentModificationException =>
        val p = new org.apache.hadoop.fs.Path(dir)
        try p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
        catch { case _: java.io.IOException => () }
        throw e
    }

  /** Writer protocol: the whole mutation (meta load → data write → CAS
    * commit) runs under the table's writer lock, so same-machine writers
    * — threads or processes — queue FIFO and commit first-try instead of
    * burning multi-second Spark replays losing CAS races (attempts cost
    * ~0.5–2 s of parquet jobs; an attempt-capped millisecond backoff is
    * the wrong shape by three orders of magnitude). The CAS stays as the
    * actual correctness gate: against out-of-band writers (another
    * machine on shared storage where advisory locks may not reach) a
    * conflict replays the mutation from fresh meta on a generous
    * wall-clock deadline with randomized backoff. Validation errors
    * (duplicate column, missing table…) are NOT retried — they propagate
    * from the replay against the winner's meta, which is exactly the
    * "conflicting schema change raises cleanly" semantics.
    */
  private def retryOnConflict[A](f: => A): A = catalog.withWriterLock(name) {
    val deadline = System.currentTimeMillis() + RetryBudgetMs
    var out: Option[A] = None
    while (out.isEmpty) {
      try out = Some(f)
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (System.currentTimeMillis() > deadline) throw e
          Thread.sleep(
            java.util.concurrent.ThreadLocalRandom.current().nextLong(25L, 250L))
      }
    }
    out.get
  }

  private def rewrite(m: TableMeta, v: Long, op: String, out: DataFrame,
      removedFiles: Seq[String]): Long = {
    val dir = dataDir(v, op)
    toPhysical(out, m).write.mode("overwrite").parquet(dir)
    commitMetaOrClean(m, m.copy(versions = m.versions :+
      entry(v, op, listParquetFiles(dir), removedFiles)), dir)
    v
  }

  private def noopVersion(m: TableMeta, v: Long, op: String): Long = {
    commitMeta(m, m.copy(versions = m.versions :+ entry(v, op, Seq.empty, Seq.empty)))
    v
  }

  /** Max of a bigint column across `files`, from footer row-group
    * statistics only. None if the files are empty of rows; falls back to a
    * Spark footer-pushdown aggregate if any footer lacks stats for the
    * column (never happens for columns Spark itself wrote, but manifests
    * can reference foreign files after an import).
    */
  /** total row count across `files` from parquet footers — driver-side
    * metadata only, no Spark job (same basis as maxLongFromFooters)
    */
  private def rowCountFromFooters(files: Seq[String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      finally r.close()
    }.sum
  }

  /** Error-carrying cell surfaces of the table, for the reference's
    * `UpdateStatus.num_excs` and `cols_with_excs` counts
    * (`catalog/update_status.py`): a stored struct column with an
    * `errortype` field (the cellmd convention — media metadata, try_*
    * capture structs) or a stored `<col>_errormsg` string sidecar next to
    * its value column. Returns (reported column name, parquet footer leaf
    * dot-path under the PHYSICAL schema, error predicate over a LOGICAL
    * frame).
    */
  private def errorLeafDescriptors(m: TableMeta)
      : Seq[(String, String, org.apache.spark.sql.Column)] =
    m.liveColumns.filter(_.stored).flatMap { c =>
      val dt = try org.apache.spark.sql.types.DataType.fromDDL(c.dataType)
        catch { case _: Exception => org.apache.spark.sql.types.NullType }
      dt match {
        case st: org.apache.spark.sql.types.StructType
            if st.fieldNames.contains("errortype") =>
          Some((c.name, s"${c.storeName}.errortype",
            col(c.name).getField("errortype").isNotNull))
        case _: org.apache.spark.sql.types.StringType
            if c.name.endsWith("_errormsg") &&
              m.liveColumns.exists(_.name == c.name.stripSuffix("_errormsg")) =>
          Some((c.name.stripSuffix("_errormsg"), c.storeName,
            col(c.name).isNotNull))
        case _ => None
      }
    }

  /** Non-null count of a leaf column across `files`, from footer null
    * statistics — driver-side metadata, no Spark job. Falls back to one
    * counting job if a footer lacks null counts (foreign imported files).
    */
  private def nonNullCountFromFooters(files: Seq[String], leafDotPath: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    try {
      files.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          r.getFooter.getBlocks.asScala.map { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == leafDotPath) match {
              case None => 0L // column absent in this file: no cells
              case Some(leaf) =>
                val st = leaf.getStatistics
                require(st != null && !st.isEmpty,
                  s"no null stats for $leafDotPath in $f")
                b.getRowCount - st.getNumNulls
            }
          }.sum
        } finally r.close()
      }.sum
    } catch {
      case _: Exception => // dotted path = struct field access on the raw read
        spark.read.option("mergeSchema", "true").parquet(files: _*)
          .filter(col(leafDotPath).isNotNull).count()
    }
  }

  private def maxLongFromFooters(files: Seq[String], colName: String): Option[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    try {
      val maxes = files.flatMap { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          r.getFooter.getBlocks.asScala.flatMap { b =>
            b.getColumns.asScala
              .filter(_.getPath.toDotString == colName)
              .map { c =>
                val st = c.getStatistics
                require(st != null && st.hasNonNullValue || b.getRowCount == 0,
                  s"no stats for $colName in $f")
                st
              }
              .collect { case st if st.hasNonNullValue =>
                st.genericGetMax.asInstanceOf[java.lang.Long].longValue()
              }
          }
        } finally r.close()
      }
      if (maxes.isEmpty) None else Some(maxes.max)
    } catch {
      case _: Exception => // foreign footer without stats: one Spark job
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        val row = spark.read.parquet(files: _*).agg(max(col(colName))).head
        if (row.isNullAt(0)) None else Some(row.getLong(0))
    }
  }

  private implicit class JavaListOps[A](l: java.util.List[A]) {
    def asScala: Seq[A] = {
      val b = Seq.newBuilder[A]
      val it = l.iterator()
      while (it.hasNext) b += it.next()
      b.result()
    }
  }

  private def listParquetFiles(dir: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(path)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).sorted.toSeq
  }

  private def entry(v: Long, op: String, added: Seq[String], removed: Seq[String]) =
    VersionEntry(v, op, added, removed, System.currentTimeMillis())
}

object GraftTable {
  /** reference ColumnMetadata analog (`catalog/table_metadata.py`) */
  /** reference UpdateStatus analog (`catalog/update_status.py`): DML ops
    * report affected-row and computed-cell counts. Counts derive from
    * parquet footers (no extra jobs), so the status is free.
    */
  final case class UpdateStatus(
      version: Long,
      numRows: Long,
      numComputedValues: Long,
      // cells of THIS op's rows left in error state (reference num_excs):
      // non-null errortype in a cellmd-style struct column or a non-null
      // `<col>_errormsg` sidecar; colsWithExcs names the value columns
      numExcs: Long = 0L,
      updatedCols: Seq[String] = Seq.empty,
      colsWithExcs: Seq[String] = Seq.empty,
      // media file-cache working-set warnings drained once per top-level
      // DML op (reference utils/filecache.py emit_eviction_warnings)
      cacheWarnings: Seq[String] = Seq.empty,
      // reference `return_rows=True`: one column→new-stored-value map per
      // affected row (updated and upserted); None unless requested
      rows: Option[Seq[Map[String, Any]]] = None)

  final case class ColumnMetadataInfo(
      name: String,
      dataType: String,
      versionAdded: Long,
      isStored: Boolean,
      isComputed: Boolean,
      computedWith: Option[String],
      dependsOn: Seq[String],
      physicalName: String,
      comment: Option[String] = None,
      customMetadata: Map[String, String] = Map.empty,
      mediaValidation: Option[String] = None)

  /** reference IndexMetadata analog */
  final case class IndexMetadataInfo(
      name: String,
      columns: Seq[String],
      indexType: String,
      shards: Int,
      m: Int,
      efConstruction: Int,
      segmentThreshold: Int,
      indexedThrough: Long)

  /** reference TableMetadata analog */
  final case class TableMetadataInfo(
      name: String,
      version: Long,
      versionCreatedMs: Long,
      commitSeq: Long,
      nextRowId: Long,
      columns: Seq[ColumnMetadataInfo],
      indices: Seq[IndexMetadataInfo],
      snapshots: Map[String, Long],
      primaryKey: Seq[String] = Seq.empty,
      isVersioned: Boolean = true)

  val RowId = "_rowid"
  val VMin = "_v_min"
  val VMax = "_v_max"
  val Live: Long = Long.MaxValue
  private val FileCol = "_file"
  // wall-clock replay budget for CAS conflicts from out-of-band writers
  // (attempts cost seconds of Spark jobs — budget time, not attempts)
  private val RetryBudgetMs = 120000L

  /** `ifExists` is the reference's create_table collision directive
    * (`catalog/catalog.py:2872-2958` `_handle_path_collision`):
    * `"error"` raises; `"ignore"` returns the EXISTING table handle
    * (schema is not compared — only the kind: a view at the path raises);
    * `"replace"` drops the existing table first and raises if it has
    * dependent views; `"replace_force"` drops dependent views too.
    */
  def create(spark: SparkSession, catalog: Catalog, name0: String,
      columns: Seq[ColumnDef], primaryKey: Seq[String] = Seq.empty,
      isVersioned: Boolean = true, ifExists: String = "error"): GraftTable = {
    require(Set("error", "ignore", "replace", "replace_force")(ifExists),
      s"ifExists must be one of error|ignore|replace|replace_force, got '$ifExists'")
    // logical → physical under the active user; the handle binds to the
    // physical path, so it keeps working across user switches
    val name = catalog.resolveUserPath(name0)
    if (catalog.exists(name)) ifExists match {
      case "error" =>
        throw new IllegalArgumentException(s"table $name already exists")
      case "ignore" =>
        val isView = catalog.load(name).snapshots.keys
          .exists(_.startsWith(Views.lastSeenPrefix))
        if (isView) throw new IllegalArgumentException(
          s"path $name already exists and is not a table (it is a view)")
        return new GraftTable(spark, catalog, name)
      case _ => // replace / replace_force; plain replace raises on dependents
        catalog.dropTable(name, force = ifExists == "replace_force",
          ifNotExists = "error")
    }
    catalog.requireCreatable(name) // valid segments, parent dir exists
    primaryKey.foreach(k => require(columns.exists(_.name == k),
      s"primary key column '$k' is not in the schema"))
    require(primaryKey.forall(k =>
      !columns.find(_.name == k).flatMap(_.computedExpr).isDefined),
      "primary key columns cannot be computed")
    catalog.save(TableMeta(name, columns,
      versions = Seq(VersionEntry(0L, "create", Seq.empty, Seq.empty,
        System.currentTimeMillis())),
      snapshots = Map.empty, nextRowId = 0L,
      primaryKey = primaryKey, isVersioned = isVersioned))
    new GraftTable(spark, catalog, name)
  }

  def open(spark: SparkSession, catalog: Catalog, name0: String): GraftTable = {
    val name = catalog.resolveUserPath(name0)
    require(catalog.exists(name), s"no such table: $name")
    new GraftTable(spark, catalog, name)
  }

  /** reference `pxt.get_table(path, if_not_exists='ignore')`
    * (`globals.py:545`): None when the path doesn't exist.
    */
  def openOption(spark: SparkSession, catalog: Catalog,
      name0: String): Option[GraftTable] = {
    val name = catalog.resolveUserPath(name0)
    if (catalog.exists(name)) Some(new GraftTable(spark, catalog, name)) else None
  }
}
