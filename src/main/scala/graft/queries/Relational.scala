package graft.queries

import graft.{QueryDef, Tables => T}
import graft.operators.TopN
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational surface (SURVEY.md §2.2–§2.8): scan/filter/project, joins
  * (inner/left/full/cross/semi/anti), group-by + global aggregation, distinct,
  * window aggregates (unbounded-preceding frame, reference
  * `exprs/function_call.py:447-460`) and ranking, order/limit/offset,
  * deterministic md5 sampling (reference `exec/sql_node.py:715-860`,
  * `query_clauses.py:94-152`), isin, case/when, union, rollup.
  *
  * Every query ends in a total deterministic order and aliases every derived
  * column identically to its oracle; double aggregates are rounded so the
  * accumulation order (which differs across engines/partitionings) cannot
  * change the hashed value.
  */
object Relational {

  private val shipCut = "1998-09-02 00:00:00"

  /** Deterministic sampling key: md5(seed ∥ pk...) — mirrors the reference's
    * repeatable-sample semantics (`query_clauses.py:145-152`) and is computed
    * identically by Spark and DuckDB.
    */
  private def md5Key(seed: String, cols: Column*): Column =
    md5(concat_ws("___", (lit(seed) +: cols.map(_.cast("string"))): _*))

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q01_filter_project",
      (s, dir) => {
        T(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit(shipCut).cast("timestamp"))
          .select(
            col("l_orderkey"),
            col("l_linenumber"),
            round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2).as("revenue"),
          )
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("revenue"))
          .limit(100)
      },
      // revenue in the sort: (l_orderkey, l_linenumber) is not unique in
      // this corpus, so ties need a value column for a total order
      Some(s"""SELECT l_orderkey, l_linenumber,
              |round(l_extendedprice * (1.0 - l_discount), 2) AS revenue
              |FROM lineitem WHERE l_shipdate <= TIMESTAMP '$shipCut'
              |ORDER BY l_orderkey, l_linenumber, revenue LIMIT 100""".stripMargin),
    ),
    QueryDef(
      "q02_agg_groupby",
      (s, dir) => {
        T(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit(shipCut).cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            round(sum(col("l_quantity")), 2).as("sum_qty"),
            round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
            // averages via rounded-sum / count: a raw avg can land on a
            // rounding half-boundary where the engines' accumulation orders
            // disagree in the last ulp and round opposite ways
            round(round(sum(col("l_quantity")), 2) / count(lit(1)), 4).as("avg_qty"),
            round(round(sum(col("l_discount")), 4) / count(lit(1)), 6).as("avg_disc"),
            count(lit(1)).as("count_order"),
          )
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
              |round(sum(l_quantity), 2) AS sum_qty,
              |round(sum(l_extendedprice), 2) AS sum_base_price,
              |round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
              |round(round(sum(l_quantity), 2) / count(*), 4) AS avg_qty,
              |round(round(sum(l_discount), 4) / count(*), 6) AS avg_disc,
              |count(*) AS count_order
              |FROM lineitem WHERE l_shipdate <= TIMESTAMP '$shipCut'
              |GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    ),
    QueryDef(
      "q03_global_agg",
      (s, dir) => {
        T(s, dir, "lineitem").agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"),
          round(min(col("l_discount")), 4).as("min_disc"),
          round(max(col("l_discount")), 4).as("max_disc"),
        )
      },
      Some("""SELECT count(*) AS n_rows,
             |count(DISTINCT l_orderkey) AS n_orders,
             |round(sum(l_extendedprice), 2) AS sum_price,
             |min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
             |round(min(l_discount), 4) AS min_disc,
             |round(max(l_discount), 4) AS max_disc
             |FROM lineitem""".stripMargin),
    ),
    QueryDef(
      "q04_join_inner",
      (s, dir) => {
        val o = T(s, dir, "orders")
        val c = T(s, dir, "customer")
        // customer is the small dimension at every SF: broadcast it.
        o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "inner")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n_orders,
             |round(sum(o_totalprice), 2) AS total
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    ),
    QueryDef(
      "q05_join_multi",
      (s, dir) => {
        val c = T(s, dir, "customer")
        val o = T(s, dir, "orders")
        val li = T(s, dir, "lineitem")
        val n = T(s, dir, "nation")
        li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
          .join(broadcast(c), o("o_custkey") === c("c_custkey"), "inner")
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "inner")
          .groupBy(col("n_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
          .orderBy(col("n_name"))
      },
      Some("""SELECT n_name,
             |round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin),
    ),
    QueryDef(
      "q06_join_left",
      (s, dir) => {
        val c = T(s, dir, "customer")
        val o = T(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("n_orders"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders
             |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
             |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),
    ),
    QueryDef(
      "q07_join_full",
      (s, dir) => {
        val sAgg = T(s, dir, "supplier").groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
        val cAgg = T(s, dir, "customer").groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
        sAgg.join(cAgg, sAgg("s_nationkey") === cAgg("c_nationkey"), "full_outer")
          .select(
            coalesce(sAgg("s_nationkey"), cAgg("c_nationkey")).as("nationkey"),
            col("n_supp"), col("n_cust"),
          )
          .orderBy(col("nationkey"))
      },
      Some("""SELECT coalesce(s.s_nationkey, c.c_nationkey) AS nationkey, n_supp, n_cust
             |FROM (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY 1) s
             |FULL OUTER JOIN (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY 1) c
             |ON s.s_nationkey = c.c_nationkey
             |ORDER BY nationkey""".stripMargin),
    ),
    QueryDef(
      "q08_join_cross",
      (s, dir) => {
        T(s, dir, "region").crossJoin(T(s, dir, "nation"))
          .select(col("r_name"), col("n_name"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
             |ORDER BY r_name, n_name""".stripMargin),
    ),
    QueryDef(
      "q09_join_semi",
      (s, dir) => {
        val c = T(s, dir, "customer")
        val big = T(s, dir, "orders").filter(col("o_totalprice") > 100000.0).select(col("o_custkey"))
        c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
             |ORDER BY c_custkey""".stripMargin),
    ),
    QueryDef(
      "q10_join_anti",
      (s, dir) => {
        val c = T(s, dir, "customer")
        val o = T(s, dir, "orders").select(col("o_custkey"))
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_acctbal"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_acctbal FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin),
    ),
    QueryDef(
      "q11_distinct",
      (s, dir) => {
        T(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_linestatus"))
          .distinct()
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
             |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    ),
    QueryDef(
      "q12_window_running",
      (s, dir) => {
        // Reference window semantics: rows between unbounded preceding and
        // current row, per partition (`exprs/function_call.py:447-460`).
        // (l_orderkey, l_linenumber) is NOT unique in this corpus; the window
        // order includes l_quantity so any remaining ties have equal running
        // sums, and the final sort includes the computed cols for a total
        // deterministic order.
        val w = Window
          .partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        T(s, dir, "lineitem")
          .select(
            col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            round(sum(col("l_quantity")).over(w), 2).as("running_qty"),
            count(lit(1)).over(w).as("running_n"),
          )
          .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("running_n"), col("running_qty"))
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
             |round(sum(l_quantity) OVER w, 2) AS running_qty,
             |count(*) OVER w AS running_n
             |FROM lineitem
             |WINDOW w AS (PARTITION BY l_suppkey
             |  ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |ORDER BY l_suppkey, l_orderkey, l_linenumber, running_n, running_qty""".stripMargin),
    ),
    QueryDef(
      "q13_window_rank",
      (s, dir) => {
        // Order on enough columns that tied rows are identical in every
        // output-relevant column (lag/lead read l_quantity, which is a key).
        // lead() at rank 500 reads rank 501, so the top 501 per flag are
        // ranked and lag/lead then run over that remnant in rank order.
        val orderCols = Seq(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"), col("l_shipdate"))
        val top = TopN.perGroup(T(s, dir, "lineitem"), Seq(col("l_returnflag")),
          orderCols, 501, cutoffs = Seq.iterate(2048L, 6)(_ * 8))
        val w = Window.partitionBy(col("l_returnflag")).orderBy(col(TopN.RankCol))
        top
          .select(
            col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            col(TopN.RankCol).cast("long").as("rn"),
            lag(col("l_quantity"), 1).over(w).as("prev_qty"),
            lead(col("l_quantity"), 1).over(w).as("next_qty"),
          )
          .filter(col("rn") <= 500)
          .transform(graft.QueryUtil.orderedSmall(_,
            col("l_returnflag"), col("rn")))
      },
      Some("""SELECT l_returnflag, l_orderkey, l_linenumber, rn, prev_qty, next_qty
             |FROM (SELECT l_returnflag, l_orderkey, l_linenumber,
             |  row_number() OVER w AS rn,
             |  lag(l_quantity, 1) OVER w AS prev_qty,
             |  lead(l_quantity, 1) OVER w AS next_qty
             |  FROM lineitem
             |  WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber,
             |    l_quantity, l_extendedprice, l_discount, l_tax, l_shipdate))
             |WHERE rn <= 500 ORDER BY l_returnflag, rn""".stripMargin),
    ),
    QueryDef(
      "q14_limit_offset",
      (s, dir) => {
        T(s, dir, "orders")
          .orderBy(col("o_orderkey"))
          .select(col("o_orderkey"), col("o_totalprice"))
          .offset(10)
          .limit(20)
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_orderkey LIMIT 20 OFFSET 10""".stripMargin),
    ),
    QueryDef(
      "q15_topn",
      (s, dir) => {
        // top-k: Catalyst plans orderBy+limit as TakeOrderedAndProject (no
        // full sort, no single-node shuffle of the whole table).
        T(s, dir, "orders")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .select(col("o_orderkey"), col("o_totalprice"))
          .limit(50)
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin),
    ),
    QueryDef(
      "q16_sample_det",
      (s, dir) => {
        // repeatable md5 sampling (~10%): hash(seed ∥ pk) < threshold, stable
        // across plans/partitionings unlike df.sample.
        T(s, dir, "lineitem")
          .filter(md5Key("42", col("l_orderkey"), col("l_linenumber")) < "1a")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE md5(concat_ws('___', '42', l_orderkey::VARCHAR, l_linenumber::VARCHAR)) < '1a'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    ),
    QueryDef(
      "q17_sample_stratified",
      (s, dir) => {
        // n-per-stratum repeatable sample: the 10 lowest md5 keys per flag
        graft.api.Query(T(s, dir, "lineitem"), Seq("l_orderkey", "l_linenumber"))
          .sampleStratified(10, Seq(col("l_returnflag")), seed = 7).df
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
          .transform(graft.QueryUtil.orderedSmall(_,
            col("l_returnflag"), col("l_orderkey"), col("l_linenumber")))
      },
      Some("""SELECT l_returnflag, l_orderkey, l_linenumber FROM (
             |  SELECT l_returnflag, l_orderkey, l_linenumber,
             |    row_number() OVER (PARTITION BY l_returnflag
             |      ORDER BY md5(concat_ws('___', '7', l_orderkey::VARCHAR, l_linenumber::VARCHAR))) AS rn
             |  FROM lineitem)
             |WHERE rn <= 10
             |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin),
    ),
    QueryDef(
      "q109_sample_strat_fraction",
      (s, dir) => {
        // stratified FRACTION sample (reference fraction+stratify_by,
        // exec/sql_node.py:848): exactly ceil(0.1·|stratum|) rows per
        // stratum, lowest md5 keys first. Exercises the two-phase
        // key-range-bucketed rank in api.Query — no task ranks a whole
        // stratum (the oracle's flat per-stratum window is the spec, not
        // the shape). Output restricted to key columns so tied sample
        // keys (duplicate pks exist in the corpus) stay value-identical
        // whichever physical row the cutoff admits.
        graft.api.Query(T(s, dir, "lineitem"), Seq("l_orderkey", "l_linenumber"))
          .sampleStratifiedFraction(0.1, Seq(col("l_returnflag")), seed = 7)
          .df
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
          .transform(graft.QueryUtil.orderedSmall(_,
            col("l_returnflag"), col("l_orderkey"), col("l_linenumber")))
      },
      Some("""SELECT l_returnflag, l_orderkey, l_linenumber FROM (
             |  SELECT l_returnflag, l_orderkey, l_linenumber,
             |    row_number() OVER (PARTITION BY l_returnflag
             |      ORDER BY md5(concat_ws('___', '7', l_orderkey::VARCHAR, l_linenumber::VARCHAR))) AS rn,
             |    count(*) OVER (PARTITION BY l_returnflag) AS cnt
             |  FROM lineitem)
             |WHERE rn <= ceil(0.1 * cnt)::BIGINT
             |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin),
    ),
    QueryDef(
      "q18_isin",
      (s, dir) => {
        T(s, dir, "orders")
          .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
          .select(col("o_orderkey"), col("o_orderpriority"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_orderpriority FROM orders
             |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
             |ORDER BY o_orderkey""".stripMargin),
    ),
    QueryDef(
      "q19_case_when",
      (s, dir) => {
        T(s, dir, "orders")
          .select(
            col("o_orderkey"),
            when(col("o_totalprice") > 200000.0, "big")
              .when(col("o_totalprice") > 100000.0, "mid")
              .otherwise("small").as("bucket"),
          )
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey,
             |CASE WHEN o_totalprice > 200000.0 THEN 'big'
             |     WHEN o_totalprice > 100000.0 THEN 'mid'
             |     ELSE 'small' END AS bucket
             |FROM orders ORDER BY o_orderkey""".stripMargin),
    ),
    QueryDef(
      "q20_union",
      (s, dir) => {
        val c = T(s, dir, "customer")
          .groupBy(col("c_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("n"))
          .withColumn("src", lit("cust"))
        val su = T(s, dir, "supplier")
          .groupBy(col("s_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("n"))
          .withColumn("src", lit("supp"))
        c.select("nationkey", "src", "n")
          .union(su.select("nationkey", "src", "n"))
          .orderBy(col("nationkey"), col("src"))
      },
      Some("""SELECT nationkey, src, n FROM (
             |  SELECT c_nationkey AS nationkey, 'cust' AS src, count(*) AS n
             |  FROM customer GROUP BY 1, 2
             |  UNION ALL
             |  SELECT s_nationkey, 'supp', count(*) FROM supplier GROUP BY 1, 2)
             |ORDER BY nationkey, src""".stripMargin),
    ),
    QueryDef(
      "q21_rollup",
      (s, dir) => {
        T(s, dir, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
          .orderBy(col("l_returnflag"), col("l_linestatus")) // Spark asc = nulls first
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |round(sum(l_quantity), 2) AS qty
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    ),
  )
}
