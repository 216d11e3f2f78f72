package graft.api

import graft.catalog.GraftTable
import graft.operators.TopN
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fluent query builder mirroring the reference's `Query` surface
  * (`/root/reference/pixeltable/_query.py:1137-1798`):
  * select/where/join/group_by/order_by/limit/offset/distinct/head/tail/
  * sample/collect. Each call refines an immutable wrapper over a Spark
  * `DataFrame`, so the whole chain compiles to one Catalyst plan —
  * pushdown, pruning and join selection apply across the builder exactly as
  * if the user had written DataFrame code.
  *
  * The reference's repeatable `sample()` semantics (`exec/sql_node.py:
  * 715-860`: order/threshold on md5(seed ∥ pk)) are reproduced exactly —
  * `DataFrame.sample` is NOT plan-stable and is deliberately not used.
  */
final case class Query(df: DataFrame, keyCols: Seq[String]) {

  def where(cond: Column): Query = copy(df = df.filter(cond))
  def where(predicateSql: String): Query = copy(df = df.filter(expr(predicateSql)))

  def select(cols: Column*): Query = copy(df = df.select(cols: _*))
  def selectExpr(exprs: String*): Query = copy(df = df.selectExpr(exprs: _*))

  def join(other: Query, cond: Column, joinType: String = "inner"): Query =
    copy(df = df.join(other.df, cond, joinType))

  def groupBy(cols: Column*): GroupedQuery = GroupedQuery(df.groupBy(cols: _*))

  def orderBy(cols: Column*): Query = copy(df = df.orderBy(cols: _*))
  def limit(n: Int): Query = copy(df = df.limit(n))
  def offset(n: Int): Query = copy(df = df.offset(n))
  def distinct(): Query = copy(df = df.distinct())

  /** first n rows in insertion order (reference `head`, `_query.py:806`) */
  def head(n: Int): Query = copy(df = sortedByKey(asc = true).limit(n))

  /** last n rows in insertion order (reference `tail`, `_query.py:843`) */
  def tail(n: Int): Query = copy(df = sortedByKey(asc = false).limit(n))

  private def sortedByKey(asc: Boolean): DataFrame = {
    require(keyCols.nonEmpty, "head/tail need key columns (insertion order)")
    val order = keyCols.map(c => if (asc) col(c).asc else col(c).desc)
    df.orderBy(order: _*)
  }

  private def sampleKey(seed: Long): Column = {
    require(keyCols.nonEmpty, "sample needs key columns for repeatability")
    md5(concat_ws("___", (lit(seed.toString) +: keyCols.map(c => col(c).cast("string"))): _*))
  }

  /** Repeatable fraction sample: md5(seed ∥ pk) below the fraction's 8-hex
    * threshold — stable across plans, partitionings and engines.
    */
  def sampleFraction(fraction: Double, seed: Long = 0L): Query = {
    require(fraction >= 0 && fraction <= 1, s"bad fraction $fraction")
    val threshold = f"${math.round(fraction * 0xffffffffL)}%08x"
    copy(df = df.filter(substring(sampleKey(seed), 1, 8) < threshold))
  }

  /** Repeatable n-row sample: top-n by md5 key via orderBy+limit, which
    * Catalyst plans as TakeOrderedAndProject (per-partition heaps + merge of
    * n-row heads — no global sort, no single-task window at any scale).
    */
  def sampleN(n: Int, seed: Long = 0L): Query =
    copy(df = df.orderBy(sampleKey(seed)).limit(n))

  /** Repeatable stratified sample: the n rows with the lowest md5 sample
    * keys per stratum, through `TopN.perGroup`. The key is uniform hex, so
    * a stratum's n lowest keys sit below a short hex prefix: one probe
    * picks the smallest cutoff under which every stratum has n rows (or
    * all of its rows), and only the rows under it are shuffled and ranked.
    */
  def sampleStratified(n: Int, stratifyBy: Seq[Column], seed: Long = 0L): Query =
    copy(df = TopN.perGroup(df, stratifyBy, Seq(sampleKey(seed)), n,
      cutoffs = Seq("008", "08", "8")).drop(TopN.RankCol))

  /** Repeatable stratified FRACTION sample (reference `fraction` +
    * `stratify_by`, `exec/sql_node.py:848-895`): each stratum contributes
    * EXACTLY `ceil(fraction · stratumCount)` rows — the stratum's lowest
    * md5 sample keys — not a per-row coin flip.
    *
    * The reference ranks with one window per stratum; at scale that puts a
    * whole stratum in one task. Here the exact global-within-stratum rank
    * is assembled from KEY-RANGE buckets of the md5 key (its first two hex
    * chars: 256 uniform, ORDER-ALIGNED buckets — every key in bucket 0x2f
    * sorts before every key in 0x30):
    * rank = (rows of the stratum in lower buckets) + (rank within own
    * bucket). The per-(stratum, bucket) count table is tiny
    * (|strata|·256), its prefix sums are a window over that tiny table,
    * and it broadcast-joins back — so no task ever sorts more than one
    * (stratum, bucket) slice: a salt that is ORDERED, so ranks compose.
    *
    * Ties (duplicate sample keys) get an arbitrary but count-exact order,
    * same as the reference's `row_number`.
    */
  def sampleStratifiedFraction(fraction: Double, stratifyBy: Seq[Column],
      seed: Long = 0L): Query = {
    require(fraction >= 0 && fraction <= 1, s"bad fraction $fraction")
    val internal = Set("_sk", "_sb", "_lr", "_bc", "_off", "_tot") ++
      stratifyBy.indices.map(i => s"_st$i")
    val clash = df.columns.filter(internal)
    require(clash.isEmpty,
      s"input columns collide with sampler internals: ${clash.mkString(", ")}")
    val sCols = stratifyBy.indices.map(i => s"_st$i")
    val withS = df.select(
      (df.columns.map(col) ++ stratifyBy.zip(sCols).map { case (e, n) => e.as(n) }): _*)
    val key = sampleKey(seed)
    // (r13 profile note: replacing the _sk string sort key with its
    // exact numeric decomposition — 2+15+15 hex as bucket + two longs —
    // was tested at 60M rows and NOT kept: Spark's 8-byte sort prefix
    // already resolves most string comparisons, and the three conv()
    // evaluations per row offset the narrower shuffle.)
    val keyed = withS.withColumn("_sk", key)
      .withColumn("_sb", conv(substring(col("_sk"), 1, 2), 16, 10).cast("int"))
    val wLocal = Window.partitionBy((sCols :+ "_sb").map(col): _*).orderBy(col("_sk"))
    val ranked = keyed.withColumn("_lr", row_number().over(wLocal).cast("long"))
    // tiny: |strata| × 256 rows; a SEPARATE column-pruned pass (key +
    // strata columns only — parquet reads nothing else) with map-side
    // partial aggregation, so its shuffle is 256·|strata| rows per
    // upstream partition, never the table. (Deriving counts from the
    // ranked side instead was profiled in r13 and is WORSE: column
    // pruning makes the two exchanges non-identical, ReuseExchange
    // cannot fire, and the tiny side inherits a full-width shuffle.)
    val counts = keyed.groupBy((sCols :+ "_sb").map(col): _*)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("_bc"))
    val wOff = Window.partitionBy(sCols.map(col): _*).orderBy(col("_sb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(sCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offs = counts
      .withColumn("_off", coalesce(sum(col("_bc")).over(wOff), lit(0L)))
      .withColumn("_tot", sum(col("_bc")).over(wTot))
      .select((sCols :+ "_sb").map(col) ++ Seq(col("_off"), col("_tot")): _*)
    // null-safe equi-join (strata values may be null, reference joins with
    // IS NOT DISTINCT FROM); the counts side is broadcast-size by design
    // _sb is null-safe-joined although it can never be null (md5 of a
    // concat_ws is non-null): a plain equi-join makes Catalyst push an
    // inferred isnotnull(_sb) filter BELOW the window projection, where
    // it inlines and re-evaluates md5 a second time for every row of
    // the big side (profiled r13: 3 → 2 md5 evals per row)
    val joinCond = (sCols.map(c => ranked(c) <=> offs(c)) :+
      (ranked("_sb") <=> offs("_sb"))).reduce(_ && _)
    val out = ranked.join(broadcast(offs), joinCond)
      .filter(col("_off") + col("_lr") <=
        ceil(lit(fraction) * col("_tot")).cast("long"))
      .select(df.columns.map(ranked(_)): _*)
    copy(df = out)
  }

  def count(): Long = df.count()
  def collect(): Array[Row] = df.collect()
  def show(): Unit = df.show(false)
}

final case class GroupedQuery(grouped: org.apache.spark.sql.RelationalGroupedDataset) {
  def agg(exprs: Column*): Query =
    Query(grouped.agg(exprs.head, exprs.tail: _*), Seq.empty)
}

object Query {
  /** Query over a versioned table; `_rowid` keys insertion order and
    * repeatable sampling (hidden from user-facing output by read()).
    */
  def apply(table: GraftTable, version: Option[Long] = None): Query = {
    val m = table.meta
    // keep _rowid available for head/tail/sample, user columns first
    val v = version.getOrElse(m.currentVersion)
    val df = table.readWithSystem(version)
    var out = df
    m.computedInTopoOrderAt(v).filterNot(_.stored).foreach { c =>
      out = out.withColumn(c.name, expr(c.computedExpr.get).cast(c.dataType))
    }
    Query(out.select((m.columnsAt(v).map(c => col(c.name)) :+ col(GraftTable.RowId)): _*),
      Seq(GraftTable.RowId))
  }

}
