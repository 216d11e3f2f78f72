package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The first n rows per group — stratified `sample(n, stratify_by=…)`,
  * per-query similarity top-k and every "top-n per key" gate share this
  * one operator.
  */
object TopN {

  /** The 1-based int rank column `perGroup` adds. */
  val RankCol = "_rank"

  /** Rows of `df` whose `row_number()` within their `groups`, in `order`,
    * is at most `n`, with that rank as [[RankCol]]. Ties in `order` are
    * broken arbitrarily, exactly like a flat `row_number` window.
    *
    * Without `cutoffs` this is the plain window and filter. Catalyst's
    * `InferWindowGroupLimit` plans it as a `WindowGroupLimit` `Partial`
    * before the exchange and a `Final` after it, so each map task keeps
    * only its first n rows per group and no task sorts a whole group. The
    * rule fires only while n is below
    * `spark.sql.optimizer.windowGroupLimitThreshold` (1000 by default);
    * above it every row of a group is shuffled to and sorted by one task.
    *
    * `cutoffs` are ascending candidate bounds on the leading order key
    * (bound then rank), which must then be a plain key: Spark sorts it
    * ascending with nulls first. One grouped probe aggregate counts, per
    * group, the rows at or below each candidate (nulls included, as they
    * sort first) and the group's total. The smallest candidate under which
    * every group has at least min(n, total) rows bounds the input: the rows
    * at or below it are a prefix of every group's order that holds the
    * group's first n rows. Only that remnant is shuffled and sorted, and
    * the bound pushes down to the scan. If no candidate qualifies, the
    * input is ranked unfiltered.
    */
  def perGroup(df: DataFrame, groups: Seq[Column], order: Seq[Column], n: Int,
      cutoffs: Seq[Any] = Nil): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(order.nonEmpty, "perGroup needs an order")
    require(!df.columns.contains(RankCol), s"input already has a $RankCol column")
    val bounded =
      if (cutoffs.isEmpty) df
      else {
        val key = order.head
        require(!df.select(key).queryExecution.analyzed.expressions
          .exists(_.exists(_.isInstanceOf[SortOrder])),
          s"cutoffs bound a plain ascending leading key, got $key")
        val atOrBefore = cutoffs.map(c => key.isNull || key <= lit(c))
        val probe = df.groupBy(groups: _*).agg(count(lit(1)),
          atOrBefore.map(p => count(when(p, 1))): _*).collect()
        val g = groups.length
        cutoffs.indices
          .find(i => probe.forall(r =>
            r.getLong(g + 1 + i) >= math.min(n.toLong, r.getLong(g))))
          .fold(df)(i => df.filter(atOrBefore(i)))
      }
    val w = Window.partitionBy(groups: _*).orderBy(order: _*)
    bounded.withColumn(RankCol, row_number().over(w)).filter(col(RankCol) <= n)
  }
}
