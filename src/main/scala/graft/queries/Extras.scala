package graft.queries

import graft.{QueryDef, Tables => T}
import graft.functions.{Udas, Udfs}
import org.apache.spark.sql.functions._

/** Remaining §2 surface: collect-list UDAs (reference `make_list`,
  * `functions/json.py:476-492`), explode/component expansion as a query,
  * Python-exact UDF semantics (`str.title`, floor-div/mod — SURVEY §7.4
  * hard part 2), statistical aggregates, approximate distinct, and the
  * custom Aggregator (UDA) surface.
  */
object Extras {

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q41_make_list",
      (s, dir) => {
        T(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            concat_ws(",", sort_array(collect_set(col("l_linestatus")))).as("statuses"),
            count(lit(1)).as("n"),
          )
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
             |count(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ),
    QueryDef(
      "q42_explode",
      (s, dir) => {
        // component-view expansion as a query: one row per token with its
        // position — the reference's string_splitter iterator view shape.
        val toks = split(trim(col("text")), "\\s+")
        T(s, dir, "documents")
          .filter(col("doc_id") < 50)
          .select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
          .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id"), col("pos")))
      },
      Some("""SELECT doc_id, r.pos AS pos, r.tok AS tok FROM (
             |  SELECT doc_id,
             |    unnest(list_transform(string_split_regex(trim(text), '\s+'),
             |      (t, i) -> {'pos': i - 1, 'tok': t})) AS r
             |  FROM documents WHERE doc_id < 50)
             |ORDER BY doc_id, pos""".stripMargin),
    ),
    QueryDef(
      "q43_udf_title",
      (s, dir) => {
        // Scala UDF with Python str.title() semantics; the oracle reproduces
        // it with list ops (valid for this single-space lowercase corpus).
        T(s, dir, "documents")
          .select(col("doc_id"), Udfs.title(col("text")).as("title_text"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id,
             |array_to_string(list_transform(string_split(text, ' '),
             |  w -> upper(w[1]) || w[2:]), ' ') AS title_text
             |FROM documents ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q44_py_arith",
      (s, dir) => {
        // Python // and % (floor semantics) vs SQL's truncation semantics —
        // exercised on negative values.
        val shifted = col("o_orderkey") - 7500L
        T(s, dir, "orders")
          .select(
            col("o_orderkey"),
            shifted.as("shifted"),
            Udfs.pyMod(shifted, lit(7L)).as("pymod7"),
            Udfs.floorDiv(shifted, lit(7L)).as("floordiv7"),
            Udfs.zfill(col("o_orderkey").cast("string"), lit(10)).as("zfilled"),
          )
          .transform(graft.QueryUtil.orderedSmall(_, col("o_orderkey")))
      },
      Some("""SELECT o_orderkey, o_orderkey - 7500 AS shifted,
             |((o_orderkey - 7500) % 7 + 7) % 7 AS pymod7,
             |cast(floor((o_orderkey - 7500) / 7.0) AS BIGINT) AS floordiv7,
             |lpad(o_orderkey::VARCHAR, 10, '0') AS zfilled
             |FROM orders ORDER BY o_orderkey""".stripMargin),
    ),
    QueryDef(
      "q45_stats_agg",
      (s, dir) => {
        T(s, dir, "lineitem")
          // one-row-group file: fan the percentile/corr buffering across
          // tasks (partial aggregation still combines map-side)
          .repartition(graft.QueryUtil.Fanout, col("l_orderkey"))
          .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(stddev_samp(col("l_quantity")), 6).as("sd_q"),
          round(var_samp(col("l_quantity")), 6).as("var_q"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qd"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_q"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
        )
      },
      Some("""SELECT
             |round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
             |round(stddev_samp(l_quantity), 6) AS sd_q,
             |round(var_samp(l_quantity), 6) AS var_q,
             |round(covar_samp(l_quantity, l_discount), 6) AS cov_qd,
             |round(quantile_cont(l_quantity, 0.5), 4) AS p50_q,
             |round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
             |FROM lineitem""".stripMargin),
    ),
    QueryDef(
      "q46_approx_distinct",
      (s, dir) => {
        // HLL sketch VALUES differ across engines, so the gated columns
        // are the exact counts (SQL-derivable) plus the sketch-accuracy
        // invariant: within_tol flips false — failing the hash gate — if
        // the sketch drifts past 5% of exact (HLL's default rsd).
        // Two single-distinct aggregates cross-joined instead of one
        // two-distinct-group aggregate: the latter plans an Expand that
        // triples every input row before the first aggregation, while two
        // single-column scans prune to one column each and skip Expand
        // entirely (1.9 s → 1.1 s at sf0.1; identical rows — exact counts
        // are exact and the HLL++ estimate is merge-order-independent).
        val ok = T(s, dir, "lineitem").agg(
          approx_count_distinct(col("l_orderkey")).as("approx_orders"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
        val pk = T(s, dir, "lineitem").agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        ok.crossJoin(pk).select(
          col("exact_orders"), col("exact_parts"),
          (abs(col("approx_orders") - col("exact_orders")) <=
            col("exact_orders") * 0.05 &&
          abs(col("approx_parts") - col("exact_parts")) <=
            col("exact_parts") * 0.05).as("within_tol"))
      },
      Some("""SELECT count(DISTINCT l_orderkey) AS exact_orders,
             |  count(DISTINCT l_partkey) AS exact_parts,
             |  TRUE AS within_tol
             |FROM lineitem""".stripMargin),
    ),
    QueryDef(
      "q47_uda",
      (s, dir) => {
        // custom Aggregator surface: weighted mean (plain UDA) and an
        // order-sensitive concat (the reference's requires_order_by class) —
        // both partial-aggregation-friendly (no global input sort).
        val wm = udaf(Udas.WeightedMean)
        val oc = udaf(Udas.OrderedConcat)
        T(s, dir, "lineitem")
          .filter(col("l_suppkey") < 10)
          .groupBy(col("l_suppkey"))
          .agg(
            round(wm(col("l_extendedprice"), col("l_quantity")), 6).as("wmean_price"),
            oc(col("l_orderkey") * 10 + col("l_linenumber"),
              col("l_linenumber").cast("string")).as("lines_in_order"),
          )
          .orderBy(col("l_suppkey"))
      },
      Some("""SELECT l_suppkey,
             |round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 6) AS wmean_price,
             |string_agg(l_linenumber::VARCHAR, ','
             |  ORDER BY l_orderkey * 10 + l_linenumber, l_linenumber::VARCHAR) AS lines_in_order
             |FROM lineitem WHERE l_suppkey < 10
             |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin),
    ),
    QueryDef(
      "q48_setops",
      (s, dir) => {
        // intersect/except (beyond the reference surface, SURVEY §2.8 —
        // free in Spark, declared here for the inventory).
        val cNations = T(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        val sNations = T(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
        val both = cNations.intersect(sNations).withColumn("setop", lit("both"))
        val custOnly = cNations.except(sNations).withColumn("setop", lit("cust_only"))
        both.union(custOnly).orderBy(col("setop"), col("nationkey"))
      },
      Some("""SELECT nationkey, setop FROM (
             |  SELECT nationkey, 'both' AS setop FROM (
             |    SELECT c_nationkey AS nationkey FROM customer
             |    INTERSECT SELECT s_nationkey FROM supplier)
             |  UNION ALL
             |  SELECT nationkey, 'cust_only' FROM (
             |    SELECT c_nationkey AS nationkey FROM customer
             |    EXCEPT SELECT s_nationkey FROM supplier))
             |ORDER BY setop, nationkey""".stripMargin),
    ),
    QueryDef(
      "q49_sample_n",
      (s, dir) => {
        // repeatable global n-row sample: top-n by md5(seed ∥ pk) via
        // orderBy+limit → TakeOrderedAndProject (per-partition heaps, no
        // global single-task sort — a partition-less Window.orderBy would
        // funnel the whole table through one task at scale).
        // (reference SqlSampleNode n-sample, `exec/sql_node.py:771-826`).
        val key = md5(concat_ws("___", lit("11"),
          col("o_orderkey").cast("string")))
        T(s, dir, "orders")
          .orderBy(key)
          .limit(100)
          .select(col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice FROM (
             |  SELECT o_orderkey, o_totalprice, row_number() OVER (
             |    ORDER BY md5(concat_ws('___', '11', o_orderkey::VARCHAR))) AS rk
             |  FROM orders)
             |WHERE rk <= 100 ORDER BY o_orderkey""".stripMargin),
    ),
    QueryDef(
      "q50_join_theta",
      (s, dir) => {
        // mixed equi + theta ON predicate (reference SqlJoinNode allows
        // arbitrary ON, `exec/sql_node.py:656-712`): Catalyst uses the equi
        // part for the hash join and applies the theta part as a residual.
        val li = T(s, dir, "lineitem")
        val o = T(s, dir, "orders")
        li.join(o, li("l_orderkey") === o("o_orderkey") &&
            li("l_shipdate") > o("o_orderdate") + expr("INTERVAL 200 DAYS"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_extendedprice")), 2).as("total"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |round(sum(l_extendedprice), 2) AS total
             |FROM lineitem JOIN orders
             |ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 200 DAY
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    ),
    QueryDef(
      "q51_window_range",
      (s, dir) => {
        // RANGE frame over a numeric ordering (peers share results, so ties
        // on l_orderkey are deterministic by construction). l_returnflag has
        // 3 values — partitioning the window on it alone would sort a third
        // of the table per task at scale — so the bounded 100-key lookback
        // runs through RangeFrame's bucketed shape: high-cardinality
        // (flag, orderkey-bucket) partitions, exact frames via carry rows.
        val base = T(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"))
        graft.operators.RangeFrame.withBoundedFrame(
            base, Seq(col("l_returnflag")), col("l_orderkey"), 100L,
            "range_sum", w => round(sum(col("l_quantity")).over(w), 2))
          .transform(graft.QueryUtil.orderedSmall(_,
            col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity")))
      },
      Some("""SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
             |round(sum(l_quantity) OVER (PARTITION BY l_returnflag
             |  ORDER BY l_orderkey RANGE BETWEEN 100 PRECEDING AND CURRENT ROW), 2) AS range_sum
             |FROM lineitem
             |ORDER BY l_returnflag, l_orderkey, l_linenumber, l_quantity""".stripMargin),
    ),
    QueryDef(
      "q52_pivot",
      (s, dir) => {
        // pivot via conditional aggregation (portable form of groupBy.pivot)
        val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        val aggs = segs.map(seg =>
          count(when(col("c_mktsegment") === seg, 1)).as(s"n_${seg.toLowerCase}")) :+
          round(sum(col("c_acctbal")), 2).as("total_bal")
        T(s, dir, "customer")
          .groupBy(col("c_nationkey"))
          .agg(aggs.head, aggs.tail: _*)
          .orderBy(col("c_nationkey"))
      },
      Some {
        val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        val cols = segs.map(s =>
          s"count(*) FILTER (WHERE c_mktsegment = '$s') AS n_${s.toLowerCase}").mkString(",\n")
        s"""SELECT c_nationkey,
           |$cols,
           |round(sum(c_acctbal), 2) AS total_bal
           |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin
      },
    ),
    QueryDef(
      "q53_binary_meta",
      (s, dir) => {
        // binary-column plumbing in the oracle gate: payload bytes + length
        // + hex header (multimodal columns carry media exactly like this).
        val bytes = col("text").cast("binary")
        T(s, dir, "documents")
          .select(col("doc_id"),
            octet_length(bytes).cast("long").as("n_bytes"),
            lower(hex(substring(bytes, lit(1), lit(4)))).as("header_hex"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id,
             |octet_length(text::BLOB) AS n_bytes,
             |lower(hex(substr(text, 1, 4)::BLOB)) AS header_hex
             |FROM documents ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q54_py_strings",
      (s, dir) => {
        import graft.functions.PyStrings
        T(s, dir, "customer").select(
          col("c_custkey"),
          PyStrings.capitalize(lower(col("c_mktsegment"))).as("cap"),
          PyStrings.find(col("c_name"), "9").as("f9"),
          PyStrings.countSub(col("c_name"), "0").as("cnt0"),
          PyStrings.center(col("c_mktsegment"), 14, "*").as("ctr"),
          PyStrings.swapcase(col("c_name")).as("swap"),
          PyStrings.removePrefix(col("c_name"), "Customer#").as("noprefix"),
          PyStrings.removeSuffix(col("c_mktsegment"), "ING").as("nosuffix"),
        ).orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey,
             |upper(substr(lower(c_mktsegment), 1, 1)) || lower(substr(lower(c_mktsegment), 2)) AS cap,
             |instr(c_name, '9') - 1 AS f9,
             |(length(c_name) - length(replace(c_name, '0', ''))) AS cnt0,
             |repeat('*', floor(greatest(14 - length(c_mktsegment), 0) / 2)::INT)
             |  || c_mktsegment ||
             |  repeat('*', greatest(14 - length(c_mktsegment), 0)
             |    - floor(greatest(14 - length(c_mktsegment), 0) / 2)::INT) AS ctr,
             |translate(c_name, 'abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ',
             |  'ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz') AS swap,
             |CASE WHEN starts_with(c_name, 'Customer#')
             |  THEN substr(c_name, 10) ELSE c_name END AS noprefix,
             |CASE WHEN ends_with(c_mktsegment, 'ING')
             |  THEN substr(c_mktsegment, 1, length(c_mktsegment) - 3)
             |  ELSE c_mktsegment END AS nosuffix
             |FROM customer ORDER BY c_custkey""".stripMargin),
    ),
    QueryDef(
      "q55_doc_chunker",
      (s, dir) => {
        // document_splitter char_limit+overlap mode (reference
        // `functions/document.py:163`): 100-char chunks, 20-char overlap.
        import graft.functions.Iterators
        T(s, dir, "documents")
          .filter(col("doc_id") < 100)
          .select(col("doc_id"),
            posexplode(Iterators.charChunks(col("text"), 100, 20)).as(Seq("chunk_idx", "chunk")))
          .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
            col("chunk"), length(col("chunk")).cast("long").as("chunk_len"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id"), col("chunk_idx")))
      },
      Some("""SELECT doc_id, r.idx AS chunk_idx, r.chunk AS chunk,
             |length(r.chunk) AS chunk_len FROM (
             |  SELECT doc_id, unnest(list_transform(
             |    [substr(text, s, 100) for s in generate_series(1, greatest(length(text), 1), 80)],
             |    (c, i) -> {'idx': i - 1, 'chunk': c})) AS r
             |  FROM documents WHERE doc_id < 100)
             |ORDER BY doc_id, chunk_idx""".stripMargin),
    ),
    QueryDef(
      "q56_tpch_q3",
      (s, dir) => {
        // TPC-H Q3 shape: selective dim filter → 3-way join → agg → top-k.
        val c = T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = T(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        val li = T(s, dir, "lineitem")
          .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
             |round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1998-01-01'
             |  AND l_shipdate > TIMESTAMP '1998-01-01'
             |GROUP BY l_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin),
    ),
    QueryDef(
      "q57_tpch_q18",
      (s, dir) => {
        // TPC-H Q18 shape: HAVING subquery as a semi-join (no correlated
        // subquery machinery needed — the idiomatic Spark decorrelation).
        val li = T(s, dir, "lineitem")
        val big = li.groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity")).as("qty"))
          .filter(col("qty") > 150.0)
          .select(col("l_orderkey").as("big_orderkey"))
        val o = T(s, dir, "orders")
        val c = T(s, dir, "customer")
        o.join(big, o("o_orderkey") === big("big_orderkey"), "left_semi")
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(li, o("o_orderkey") === li("l_orderkey"))
          .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"))
          .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), round(col("o_totalprice"), 2).as("o_totalprice"),
            col("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
      },
      Some("""SELECT c_name, c_custkey, o_orderkey, o_orderdate,
             |round(o_totalprice, 2) AS o_totalprice,
             |round(sum(l_quantity), 2) AS total_qty
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE o_orderkey IN (
             |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
             |  HAVING sum(l_quantity) > 150.0)
             |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),
    ),
    QueryDef(
      "q58_json_roundtrip",
      (s, dir) => {
        // JSON construction (InlineDict/to_json) + nested JsonPath + keys +
        // array length over untyped JSON strings — only extracted scalars
        // are compared, so serialization details can't cause false diffs.
        val js = to_json(struct(
          col("o_orderkey").as("id"),
          array(col("o_orderpriority"), col("o_orderstatus")).as("tags"),
          struct(col("o_totalprice").as("price")).as("meta")))
        T(s, dir, "orders")
          // the corpus file is one row group (unsplittable): fan the
          // JSON-parse work across tasks instead of one scan task
          .repartition(graft.QueryUtil.Fanout, col("o_orderkey"))
          .withColumn("js", js)
          .select(
            col("o_orderkey"),
            get_json_object(col("js"), "$.meta.price").cast("double").as("price"),
            json_array_length(get_json_object(col("js"), "$.tags")).cast("long").as("n_tags"),
            get_json_object(col("js"), "$.tags[0]").as("first_tag"),
            array_join(json_object_keys(get_json_object(col("js"), "$.meta")), ",").as("meta_keys"),
            get_json_object(col("js"), "$.missing").isNull.as("missing_is_null"),
          )
          .transform(graft.QueryUtil.orderedSmall(_, col("o_orderkey")))
      },
      Some("""SELECT o_orderkey,
             |json_extract_string(js, '$.meta.price')::DOUBLE AS price,
             |json_array_length(js, '$.tags')::BIGINT AS n_tags,
             |json_extract_string(js, '$.tags[0]') AS first_tag,
             |array_to_string(json_keys(js, '$.meta'), ',') AS meta_keys,
             |json_extract_string(js, '$.missing') IS NULL AS missing_is_null
             |FROM (SELECT o_orderkey, to_json({'id': o_orderkey,
             |  'tags': [o_orderpriority, o_orderstatus],
             |  'meta': {'price': o_totalprice}})::VARCHAR AS js FROM orders)
             |ORDER BY o_orderkey""".stripMargin),
    ),
    QueryDef(
      "q59_try_funcs",
      (s, dir) => {
        // per-cell error tolerance (reference on_error='ignore' /
        // errortype pseudo-columns): failed casts and zero divisions yield
        // NULL cells plus an errortype marker, never task failure.
        val divisor = col("o_orderkey") % 3
        T(s, dir, "orders")
          .repartition(graft.QueryUtil.Fanout, col("o_orderkey")) // one-row-group file: fan out
          .select(
            col("o_orderkey"),
            round(try_divide(col("o_totalprice"), divisor), 6).as("td"),
            try_cast_long(col("o_orderpriority")).as("bad_cast"),
            try_cast_long(col("o_orderkey").cast("string")).as("good_cast"),
            when(divisor === 0, "DivisionByZero").as("errortype"),
          )
          .transform(graft.QueryUtil.orderedSmall(_, col("o_orderkey")))
      },
      Some("""SELECT o_orderkey,
             |round(o_totalprice / nullif(o_orderkey % 3, 0), 6) AS td,
             |try_cast(o_orderpriority AS BIGINT) AS bad_cast,
             |try_cast(o_orderkey::VARCHAR AS BIGINT) AS good_cast,
             |CASE WHEN o_orderkey % 3 = 0 THEN 'DivisionByZero' END AS errortype
             |FROM orders ORDER BY o_orderkey""".stripMargin),
    ),
    QueryDef(
      "q60_asof_join",
      (s, dir) => {
        // as-of join (Spark has no native one): latest click at-or-before
        // each purchase per user. Implemented as union + running
        // last(ignoreNulls) window — one shuffle+sort, linear; the oracle
        // states the same semantics as a theta join + argmax (quadratic,
        // fine for DuckDB at oracle scale).
        import graft.operators.AsOf
        val ev = T(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("ts").as("cts"))
        AsOf.joinAsOf(purchases, clicks, "user_id", "ts", "cts", "last_click_ts")
          .transform(graft.QueryUtil.orderedSmall(_, col("event_id")))
      },
      Some("""SELECT p.event_id, p.user_id, p.ts, max(c.cts) AS last_click_ts
             |FROM (SELECT event_id, user_id, ts FROM events
             |      WHERE event_type = 'purchase') p
             |LEFT JOIN (SELECT user_id AS cu, ts AS cts FROM events
             |      WHERE event_type = 'click') c
             |ON c.cu = p.user_id AND c.cts <= p.ts
             |GROUP BY p.event_id, p.user_id, p.ts
             |ORDER BY p.event_id""".stripMargin),
    ),
    QueryDef(
      "q61_topk_per_query",
      (s, dir) => {
        // per-row query template (reference @pxt.query) as one broadcast
        // join + window rank: top-3 corpus matches for each query vector.
        import graft.functions.VectorFunctions
        val emb = T(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qe"))
        val corpus = emb.filter(col("vec_id") >= 5)
          .select(col("vec_id").as("cid"), col("embedding").cast("array<double>").as("ce"))
        VectorFunctions.topKPerQuery(corpus, "cid", "ce", queries, "qid", "qe", 3)
          .select(col("qid"), col("cid"), round(col("_score"), 6).as("score"),
            col("_rk").cast("long").as("rk"))
          .orderBy(col("qid"), col("rk"))
      },
      Some("""SELECT qid, cid, round(score, 6) AS score, rk FROM (
             |  SELECT q.vec_id AS qid, c.vec_id AS cid,
             |    list_dot_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
             |      (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) *
             |       sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))) AS score,
             |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |      list_dot_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
             |      (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) *
             |       sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))) DESC,
             |      c.vec_id) AS rk
             |  FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
             |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id >= 5) c)
             |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin),
    ),
    QueryDef(
      "q62_ts_construct",
      (s, dir) => {
        // timestamp constructors + interval arithmetic (reference
        // make_timestamp / add_days / replace, `functions/timestamp.py`).
        T(s, dir, "orders")
          .select(
            col("o_orderkey"),
            make_timestamp(year(col("o_orderdate")), month(col("o_orderdate")),
              dayofmonth(col("o_orderdate")), lit(12), lit(30), lit(0))
              .cast("timestamp_ntz").as("noon"),
            (col("o_orderdate") + expr("INTERVAL 3 MONTHS")).as("plus3m"),
            (col("o_orderdate") - expr("INTERVAL 90 DAYS")).as("minus90d"),
            datediff(lit("2000-01-01").cast("timestamp"), col("o_orderdate"))
              .cast("long").as("days_to_2000"),
            last_day(col("o_orderdate")).cast("string").as("month_end"),
          )
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey,
             |make_timestamp(year(o_orderdate)::BIGINT, month(o_orderdate)::BIGINT,
             |  dayofmonth(o_orderdate)::BIGINT, 12, 30, 0.0) AS noon,
             |o_orderdate + INTERVAL 3 MONTH AS plus3m,
             |o_orderdate - INTERVAL 90 DAY AS minus90d,
             |date_diff('day', o_orderdate, TIMESTAMP '2000-01-01') AS days_to_2000,
             |last_day(o_orderdate)::VARCHAR AS month_end
             |FROM orders ORDER BY o_orderkey""".stripMargin),
    ),
    QueryDef(
      "q63_uuid_synth",
      (s, dir) => {
        // deterministic content-derived UUID (reference uuid family,
        // `functions/uuid.py` — uuid4/uuid7 are nondeterministic and can't
        // be oracle-checked; the deterministic v5-style form can).
        val h = md5(concat_ws("_", lit("graft"), col("doc_id").cast("string")))
        val uuid = concat_ws("-",
          substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
          substring(h, 17, 4), substring(h, 21, 12))
        T(s, dir, "documents")
          .select(col("doc_id"), uuid.as("doc_uuid"),
            substring(h, 1, 8).as("short_id"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id,
             |concat_ws('-', substr(h, 1, 8), substr(h, 9, 4), substr(h, 13, 4),
             |  substr(h, 17, 4), substr(h, 21, 12)) AS doc_uuid,
             |substr(h, 1, 8) AS short_id
             |FROM (SELECT doc_id, md5('graft' || '_' || doc_id::VARCHAR) AS h
             |      FROM documents)
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q64_cube",
      (s, dir) => {
        T(s, dir, "lineitem")
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"), round(avg(col("l_discount")), 6).as("avg_disc"))
          .orderBy(col("l_returnflag"), col("l_linestatus")) // asc = nulls first
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |round(avg(l_discount), 6) AS avg_disc
             |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    ),
    QueryDef(
      "q65_setops_all",
      (s, dir) => {
        // bag-semantics set ops (intersectAll/exceptAll keep duplicates)
        val a = T(s, dir, "lineitem").select(col("l_suppkey").as("k")).filter(col("k") < 20)
        val b = T(s, dir, "lineitem").select(col("l_partkey").as("k")).filter(col("k") < 20)
        a.intersectAll(b)
          .groupBy(col("k")).agg(count(lit(1)).as("n"))
          .orderBy(col("k"))
      },
      Some("""SELECT k, count(*) AS n FROM (
             |  SELECT l_suppkey AS k FROM lineitem WHERE l_suppkey < 20
             |  INTERSECT ALL
             |  SELECT l_partkey FROM lineitem WHERE l_partkey < 20)
             |GROUP BY k ORDER BY k""".stripMargin),
    ),
    QueryDef(
      "q66_mean_ap",
      (s, dir) => {
        // detection-eval pipeline (reference eval_detections + mean_ap UDA,
        // `functions/vision.py:176-281`): one pred + one gt box per row with a
        // distinct md5-derived confidence score, so the PR-curve visit order is
        // a deterministic total order reproducible in SQL. The per-class AP map
        // is exploded to scalar (l_returnflag, class_id, ap) rows and matched
        // against a window-function oracle computing the same all-point
        // interpolation (cumulative tp → precision/recall → right-max envelope
        // → Σ precision·Δrecall).
        import graft.functions.Vision
        val q = col("l_quantity")
        val k = (col("l_orderkey") % 3).cast("double")
        val box = array(lit(0.0), lit(0.0), q, q)
        val gtBox = array(lit(0.0), lit(0.0), q + k, q + k)
        val cls = array((col("l_linenumber") % 2).cast("int"))
        val key = md5(concat_ws("___", lit("ap"), col("l_orderkey").cast("string"),
          col("l_linenumber").cast("string"), col("l_quantity").cast("string")))
        // 48-bit hex prefix → double in [0,1): numeric desc == hex-string desc
        val score = conv(substring(key, 1, 12), 16, 10).cast("double") / lit(281474976710656.0)
        T(s, dir, "lineitem")
          .filter(col("l_suppkey") < 50)
          .select(col("l_returnflag"),
            Vision.evalDetectionsUdf(
              array(box), cls, array(score), array(gtBox), cls, lit(0.5)).as("evals"))
          .groupBy(col("l_returnflag"))
          .agg(Vision.mean_ap(col("evals")).as("ap_by_class"))
          .select(col("l_returnflag"), explode(col("ap_by_class")).as(Seq("class_id", "ap")))
          .select(col("l_returnflag"), col("class_id"), round(col("ap"), 6).as("ap"))
          .transform(graft.QueryUtil.orderedSmall(_,
            col("l_returnflag"), col("class_id")))
      },
      Some("""WITH det AS (
             |  SELECT l_returnflag AS flag, (l_linenumber % 2)::INT AS cls,
             |    CASE WHEN (l_quantity*l_quantity) / greatest(
             |        l_quantity*l_quantity
             |          + (l_quantity + CAST(l_orderkey % 3 AS DOUBLE))*(l_quantity + CAST(l_orderkey % 3 AS DOUBLE))
             |          - l_quantity*l_quantity,
             |        1.1920928955078125e-07) >= 0.5
             |      THEN 1.0 ELSE 0.0 END AS tp,
             |    md5(concat_ws('___', 'ap', l_orderkey::VARCHAR, l_linenumber::VARCHAR, l_quantity::VARCHAR)) AS key
             |  FROM lineitem WHERE l_suppkey < 50),
             |ranked AS (
             |  SELECT flag, cls, key,
             |    row_number() OVER w AS rn,
             |    sum(tp) OVER (PARTITION BY flag, cls ORDER BY key DESC
             |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tpc,
             |    count(*) OVER (PARTITION BY flag, cls) AS ngts
             |  FROM det
             |  WINDOW w AS (PARTITION BY flag, cls ORDER BY key DESC)),
             |prc AS (
             |  SELECT flag, cls, key, tpc / rn AS prec, tpc / ngts AS rec FROM ranked),
             |env AS (
             |  SELECT flag, cls, rec,
             |    max(prec) OVER (PARTITION BY flag, cls ORDER BY key DESC
             |                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS envp,
             |    lag(rec, 1, 0.0) OVER (PARTITION BY flag, cls ORDER BY key DESC) AS rec_prev
             |  FROM prc)
             |SELECT flag AS l_returnflag, cls AS class_id,
             |  round(sum(CASE WHEN rec != rec_prev THEN (rec - rec_prev) * envp ELSE 0.0 END), 6) AS ap
             |FROM env GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    ),
    QueryDef(
      "q67_image_pipeline",
      (s, dir) => {
        // REAL image codec in the oracle gate: synthesize a PNG per row with
        // id-derived dimensions, resize it, decode metadata — output dims
        // must match the oracle's closed-form arithmetic.
        import graft.functions.Images
        val w0 = (col("doc_id") % 16 + 8).cast("int")
        val h0 = (col("doc_id") % 8 + 8).cast("int")
        val rgb = (col("doc_id") * 1000 % 0xffffff).cast("int")
        T(s, dir, "documents")
          .filter(col("doc_id") < 50)
          .withColumn("png", Images.makeSolidPng(w0, h0, rgb))
          .withColumn("meta",
            Images.getMetadata(Images.resize(col("png"), (w0 * 2).cast("int"), h0)))
          .select(col("doc_id"),
            col("meta._1").cast("long").as("rw"),
            col("meta._2").cast("long").as("rh"),
            col("meta._3").as("mode"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id,
             |(doc_id % 16 + 8) * 2 AS rw,
             |doc_id % 8 + 8 AS rh,
             |'RGB' AS mode
             |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q85_gif_pipeline",
      (s, dir) => {
        // REAL animated-GIF codec in the gate (graft.functions.Codecs):
        // synthesize an n-frame looping GIF per row (id-derived frame count
        // and dims), explode it back through the gif frame iterator, decode
        // each frame — frame counts, indices, delays and dims must match the
        // oracle's closed-form arithmetic.
        import graft.functions.{Codecs, Images}
        val n = (col("doc_id") % 3 + 2).cast("int")
        val w = (col("doc_id") % 10 + 5).cast("int")
        val gifs = T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("gif", Codecs.synthGif(n, w, lit(6), delayMs = 30))
        Codecs.gifFrameIterator(gifs, "gif")
          .withColumn("meta", Images.getMetadata(col("frame_png")))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_frames"),
            sum(col("frame_idx")).cast("long").as("idx_sum"),
            max(col("delay_ms")).cast("long").as("delay"),
            max(col("meta._1")).cast("long").as("fw"),
            max(col("meta._2")).cast("long").as("fh"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id, (doc_id % 3 + 2) AS n_frames,
             |(doc_id % 3 + 2) * (doc_id % 3 + 1) // 2 AS idx_sum,
             |30::BIGINT AS delay, doc_id % 10 + 5 AS fw, 6::BIGINT AS fh
             |FROM documents WHERE doc_id < 40 ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q68_variant",
      (s, dir) => {
        // Spark 4 VariantType for untyped JSON (SURVEY §1.2 Json mapping):
        // parse once, extract typed values lazily.
        T(s, dir, "events")
          .withColumn("v", parse_json(col("props")))
          .select(
            col("event_id"),
            try_variant_get(col("v"), "$.k", "long").as("k_var"),
            try_variant_get(col("v"), "$.missing", "string").isNull
              .as("missing_null"),
          )
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
             |json_extract_string(props, '$.k')::BIGINT AS k_var,
             |json_extract_string(props, '$.missing') IS NULL AS missing_null
             |FROM events ORDER BY event_id""".stripMargin),
    ),
    QueryDef(
      "q69_audio_pipeline",
      (s, dir) => {
        // REAL audio codec in the oracle gate: synthesize a WAV per row
        // with id-derived duration, clip it, decode metadata — sample
        // counts must match closed-form arithmetic (16 kHz mono).
        import graft.functions.Audio
        val seconds = (col("doc_id") % 5 + 1).cast("double") * 0.1
        T(s, dir, "documents")
          .filter(col("doc_id") < 50)
          .withColumn("wav", Audio.makeSineWav(seconds, lit(440.0)))
          .withColumn("meta", Audio.getMetadata(col("wav")))
          .withColumn("halfmeta",
            Audio.getMetadata(Audio.clip(col("wav"), lit(0.0), seconds / 2)))
          .select(col("doc_id"),
            col("meta._1").cast("long").as("rate"),
            col("meta._3").cast("long").as("n_samples"),
            col("halfmeta._3").cast("long").as("n_half"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id, 16000 AS rate,
             |(doc_id % 5 + 1) * 1600 AS n_samples,
             |(doc_id % 5 + 1) * 800 AS n_half
             |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q70_char_entropy",
      (s, dir) => {
        // character-distribution Shannon entropy per document (quality
        // signal: gibberish/repetition detection). Uses the closed form
        // H = ln(t) - Σ n·ln(n) / t so one aggregation suffices.
        val chars = T(s, dir, "documents")
          .filter(col("doc_id") < 200)
          .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
          .filter(col("c") =!= "")
        chars
          .groupBy(col("doc_id"), col("c"))
          .agg(count(lit(1)).cast("double").as("n"))
          .groupBy(col("doc_id"))
          .agg(round(log(sum(col("n"))) -
            sum(col("n") * log(col("n"))) / sum(col("n")), 6).as("entropy"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id,
             |round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS entropy
             |FROM (SELECT doc_id, c, count(*)::DOUBLE AS n FROM (
             |  SELECT doc_id, unnest(string_split(text, '')) AS c
             |  FROM documents WHERE doc_id < 200) GROUP BY 1, 2)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q71_date_spine",
      (s, dir) => {
        // generated calendar spine left-joined to facts: months with no
        // orders still appear (the standard gap-filling pattern; the spine
        // is a generator expression, no source table needed).
        val spine = s.range(1).select(explode(sequence(
          lit("1995-01-01").cast("timestamp"),
          lit("2001-12-01").cast("timestamp"),
          expr("INTERVAL 1 MONTH"))).as("month"))
        val o = T(s, dir, "orders")
          .groupBy(date_trunc("month", col("o_orderdate")).cast("timestamp_ntz").as("m"))
          .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))
        spine.join(o, spine("month").cast("timestamp_ntz") === o("m"), "left_outer")
          .select(spine("month").cast("timestamp_ntz").as("month"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("total"), lit(0.0)).as("total"))
          .orderBy(col("month"))
      },
      Some("""SELECT spine.month AS month,
             |coalesce(o.n_orders, 0) AS n_orders,
             |coalesce(o.total, 0.0) AS total
             |FROM (SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
             |  TIMESTAMP '2001-12-01', INTERVAL 1 MONTH)) AS month) spine
             |LEFT JOIN (SELECT date_trunc('month', o_orderdate) AS m,
             |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
             |  FROM orders GROUP BY 1) o
             |ON spine.month = o.m
             |ORDER BY month""".stripMargin),
    ),
    QueryDef(
      "q72_part_analysis",
      (s, dir) => {
        // part/supplier dimension coverage: revenue by brand and size band.
        val li = T(s, dir, "lineitem")
        val p = T(s, dir, "part")
        val sup = T(s, dir, "supplier")
        li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
          .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
          .groupBy(col("p_brand"), (col("p_size") - col("p_size") % 10).as("size_band"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_extendedprice")), 2).as("revenue"),
            countDistinct(col("s_nationkey")).as("n_supp_nations"))
          .orderBy(col("p_brand"), col("size_band"))
      },
      Some("""SELECT p_brand, p_size - p_size % 10 AS size_band,
             |count(*) AS n, round(sum(l_extendedprice), 2) AS revenue,
             |count(DISTINCT s_nationkey) AS n_supp_nations
             |FROM lineitem
             |JOIN part ON l_partkey = p_partkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY p_brand, size_band
             |ORDER BY p_brand, size_band""".stripMargin),
    ),
    QueryDef(
      "q73_nested_arrays",
      (s, dir) => {
        // rank-2 array construction + flatten + reduction (the reference's
        // computed ndarray column class, `tests/utils.py:253` c8 fixture).
        val nested = array(
          array(col("l_quantity"), col("l_discount")),
          array(col("l_tax"), col("l_extendedprice")))
        T(s, dir, "lineitem")
          .filter(col("l_orderkey") < 100)
          .select(
            col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            round(aggregate(flatten(nested), lit(0.0), (a, x) => a + x), 4).as("flat_sum"),
            size(flatten(nested)).cast("long").as("n_elems"),
            round(element_at(element_at(nested, 2), 2), 2).as("corner"),
          )
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("flat_sum"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
             |round(list_sum(flatten([[l_quantity, l_discount], [l_tax, l_extendedprice]])), 4) AS flat_sum,
             |len(flatten([[l_quantity, l_discount], [l_tax, l_extendedprice]])) AS n_elems,
             |round([[l_quantity, l_discount], [l_tax, l_extendedprice]][2][2], 2) AS corner
             |FROM lineitem WHERE l_orderkey < 100
             |ORDER BY l_orderkey, l_linenumber, l_quantity, flat_sum""".stripMargin),
    ),
    QueryDef(
      "q74_mvcc_time_travel",
      (s, dir) => {
        // versioned DML in the correctness gate: build a GraftTable from
        // lineitem, delete a slice, read BOTH versions — the oracle
        // recomputes what each version must contain from the raw table.
        import graft.catalog.{Catalog, ColumnDef, GraftTable}
        val cat = new Catalog(
          graft.QueryUtil.tempDir("graft-q74").toString)
        val t = GraftTable.create(s, cat, "li_v", Seq(
          ColumnDef("l_orderkey", "bigint"), ColumnDef("l_linenumber", "int"),
          ColumnDef("l_quantity", "double")))
        val v1 = t.insert(T(s, dir, "lineitem")
          .filter(col("l_orderkey") < 1000)
          .select("l_orderkey", "l_linenumber", "l_quantity"))
        val v2 = t.delete("l_orderkey % 10 = 0")
        val at = (v: Long, label: String) => t.read(Some(v))
          .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
          .withColumn("version", lit(label))
          .select("version", "n", "qty")
        at(v1, "v1").union(at(v2, "v2"))
          .transform(graft.QueryUtil.orderedSmall(_, col("version")))
      },
      Some("""SELECT 'v1' AS version, count(*) AS n,
             |round(sum(l_quantity), 2) AS qty
             |FROM lineitem WHERE l_orderkey < 1000
             |UNION ALL
             |SELECT 'v2', count(*), round(sum(l_quantity), 2)
             |FROM lineitem WHERE l_orderkey < 1000 AND l_orderkey % 10 != 0
             |ORDER BY version""".stripMargin),
    ),
    QueryDef(
      "q143_pk_unversioned",
      (s, dir) => {
        // round-8 catalog features in the correctness gate: a PRIMARY-KEY
        // UNVERSIONED table built from customer — duplicate inserts
        // rejected (partial-index semantics: the delete frees its keys
        // for re-insert), the version log squashed to the single live
        // image after every mutation, time travel refusing. The oracle
        // recomputes the surviving row set from the raw table; the
        // behavioral branches gate as flags that flip on any constraint
        // or squash break.
        import graft.catalog.{Catalog, ColumnDef, GraftTable}
        val cat = new Catalog(
          graft.QueryUtil.tempDir("graft-q143").toString)
        val t = GraftTable.create(s, cat, "cust_pk", Seq(
          ColumnDef("c_custkey", "bigint"), ColumnDef("c_acctbal", "double")),
          primaryKey = Seq("c_custkey"), isVersioned = false)
        val src = T(s, dir, "customer")
          .filter(col("c_custkey") <= 200)
          .select("c_custkey", "c_acctbal")
        t.insert(src)
        // duplicate keys rejected, table unchanged
        val dupRejected =
          try { t.insert(src.limit(5)); false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("Duplicate primary key") }
        // delete frees the keys; re-insert with updated balances succeeds
        t.delete("c_custkey <= 50")
        t.insert(src.filter(col("c_custkey") <= 50)
          .withColumn("c_acctbal", col("c_acctbal") + 1000.0))
        // unversioned: single-entry history, time travel refuses
        val squashed = t.history().count() == 1
        val ttRefused =
          try { t.read(Some(t.currentVersion - 1)).count(); false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("unversioned") }
        t.read()
          .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"))
          .withColumn("dup_rejected", lit(dupRejected))
          .withColumn("squashed", lit(squashed))
          .withColumn("tt_refused", lit(ttRefused))
          .select("n", "bal", "dup_rejected", "squashed", "tt_refused")
      },
      Some("""SELECT count(*) AS n,
             |  round(sum(c_acctbal + CASE WHEN c_custkey <= 50
             |        THEN 1000.0 ELSE 0.0 END), 2) AS bal,
             |  TRUE AS dup_rejected, TRUE AS squashed, TRUE AS tt_refused
             |FROM customer WHERE c_custkey <= 200""".stripMargin),
    ),
    QueryDef(
      "q147_cluster_compact",
      (s, dir) => {
        // r9 clustered compaction (OPTIMIZE ... CLUSTER BY, linear form)
        // in the correctness gate: a lineitem subset inserted in three
        // interleaved batches (keys scattered across every file), then
        // compact(4, clusterBy=ok) range-partitions + sorts the rewrite.
        // The oracle recomputes a range aggregate from the raw table
        // (content preservation through the clustered rewrite); the
        // data-skipping contract gates as flags — per-file footer
        // [min,max] key ranges pairwise DISJOINT, a point key inside
        // exactly one file's envelope — that flip on any layout break.
        import graft.catalog.{Catalog, ColumnDef, GraftTable}
        val cat = new Catalog(
          graft.QueryUtil.tempDir("graft-q147").toString)
        val t = GraftTable.create(s, cat, "li_cl", Seq(
          ColumnDef("ok", "bigint"), ColumnDef("qty", "double")))
        val src = T(s, dir, "lineitem")
          .filter(col("l_orderkey") < 1200)
          .select(col("l_orderkey").as("ok"), col("l_quantity").as("qty"))
        for (r <- 0 until 3)
          t.insert(src.filter(pmod(col("ok"), lit(3)) === r).repartition(3))
        t.compact(targetFiles = 4, clusterBy = Seq("ok"))
        // footer ranges: driver-side parquet metadata, no Spark job
        val conf = s.sessionState.newHadoopConf()
        val ranges = t.meta.activeFiles(t.currentVersion).map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val st = scala.jdk.CollectionConverters
              .ListHasAsScala(r.getFooter.getBlocks).asScala
              .flatMap(b => scala.jdk.CollectionConverters
                .ListHasAsScala(b.getColumns).asScala
                .filter(_.getPath.toDotString == "ok").map(_.getStatistics))
            (st.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue()).min,
              st.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue()).max)
          } finally r.close()
        }.sortBy(_._1)
        val disjoint = ranges.sliding(2).forall {
          case Seq((_, hi), (lo, _)) => hi < lo
          case _ => true
        }
        val pointEnvelopes = ranges.count { case (lo, hi) => lo <= 600L && 600L <= hi }
        t.read()
          .filter(col("ok") >= 300 && col("ok") < 900)
          .agg(count(lit(1)).as("n"), round(sum(col("qty")), 2).as("qty_sum"))
          .withColumn("ranges_disjoint", lit(disjoint))
          .withColumn("point_one_file", lit(pointEnvelopes <= 1))
          .withColumn("files_ok", lit(ranges.size <= 4))
          .select("n", "qty_sum", "ranges_disjoint", "point_one_file", "files_ok")
      },
      Some("""SELECT count(*) AS n, round(sum(l_quantity), 2) AS qty_sum,
             |  TRUE AS ranges_disjoint, TRUE AS point_one_file,
             |  TRUE AS files_ok
             |FROM lineitem
             |WHERE l_orderkey >= 300 AND l_orderkey < 900""".stripMargin),
    ),
    QueryDef(
      "q149_recompute_columns",
      (s, dir) => {
        // recompute_columns (reference catalog/table.py:1025-1060) in the
        // correctness gate: a computed column materialized under one UDF
        // definition, the UDF's behavior CHANGED, then a where-restricted
        // cascading recompute — only matching rows re-evaluate, the
        // transitive dependent follows, untouched rows keep old values,
        // and time travel still sees the pre-recompute materialization.
        // Every output is a closed form of doc_id for the DuckDB oracle.
        import graft.catalog.{Catalog, ColumnDef, GraftTable}
        s.udf.register("rc149", (x: Double) => x * 2)
        val cat = new Catalog(
          graft.QueryUtil.tempDir("graft-q149").toString)
        val t = GraftTable.create(s, cat, "rc_docs", Seq(
          ColumnDef("doc_id", "bigint"),
          ColumnDef("v", "double"),
          ColumnDef("d", "double", computedExpr = Some("rc149(v)")),
          ColumnDef("e", "double", computedExpr = Some("d + 1"))))
        t.insert(T(s, dir, "documents")
          .filter(col("doc_id") < 120)
          .select(col("doc_id"), col("doc_id").cast("double").as("v"))
          .repartition(4))
        val vOld = t.currentVersion
        s.udf.register("rc149", (x: Double) => x * 10) // behavior change
        t.recomputeColumns(Seq("d"), whereSql = Some("doc_id < 60"))
        val now = t.read().select(col("doc_id"), col("d"), col("e"))
        val old = t.read(Some(vOld))
          .select(col("doc_id"), col("d").as("d_old"))
        graft.QueryUtil.orderedSmall(
          now.join(old, Seq("doc_id")), col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id < 60 THEN doc_id * 10.0
             |       ELSE doc_id * 2.0 END AS d,
             |  CASE WHEN doc_id < 60 THEN doc_id * 10.0 + 1
             |       ELSE doc_id * 2.0 + 1 END AS e,
             |  doc_id * 2.0 AS d_old
             |FROM documents WHERE doc_id < 120
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q151_catalog_tree",
      (s, dir) => {
        // The directory-tree surface (reference pxt.create_dir / move /
        // drop_table / ls, catalog/dir.py) in the correctness gate: dirs
        // created, tables created UNDER dirs, a table move, a whole-DIR
        // move (every nested manifest's absolute URIs rewrite), a drop —
        // then the full tree listed with per-table version AND row count
        // (the count proves the moved manifests still resolve their data
        // files). All closed forms → a VALUES oracle.
        import graft.catalog.{Catalog, ColumnDef, GraftTable}
        import s.implicits._
        val cat = new Catalog(
          graft.QueryUtil.tempDir("graft-q151").toString)
        cat.createDir("proj")
        cat.createDir("proj/raw")
        cat.createDir("archive")
        val src = T(s, dir, "documents").filter(col("doc_id") < 25)
          .select(col("doc_id"), col("lang"))
        val t1 = GraftTable.create(s, cat, "proj/raw/events_tbl", Seq(
          ColumnDef("doc_id", "bigint"), ColumnDef("lang", "string")))
        t1.insert(src)
        val t2 = GraftTable.create(s, cat, "proj/metrics", Seq(
          ColumnDef("doc_id", "bigint"), ColumnDef("lang", "string")))
        t2.insert(src.filter(col("doc_id") < 10))
        t2.insert(src.filter(col("doc_id") >= 10))
        cat.move("proj/raw/events_tbl", "proj/events_moved")
        cat.move("proj", "workspace") // dir move: nested manifests rewrite
        cat.dropTable("workspace/metrics")
        val dirs = cat.listDirs().map(p => (p, "dir",
          None: Option[Long], None: Option[Long]))
        val tables = cat.listTablesUnder().map { p =>
          val t = GraftTable.open(s, cat, p)
          (p, "table", Some(t.currentVersion), Some(t.read().count()))
        }
        (dirs ++ tables).toDF("path", "kind", "version", "n_rows")
          .orderBy("path")
      },
      Some("""SELECT * FROM (VALUES
             |  ('archive', 'dir', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)),
             |  ('workspace', 'dir', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)),
             |  ('workspace/raw', 'dir', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)),
             |  ('workspace/events_moved', 'table', CAST(1 AS BIGINT),
             |    (SELECT count(*) FROM documents WHERE doc_id < 25))
             |) t(path, kind, version, n_rows)
             |ORDER BY path""".stripMargin),
    ),
    QueryDef(
      "q152_update_status",
      (s, dir) => {
        // The reference's UpdateStatus counts (catalog/update_status.py:
        // num_rows / num_computed_values / num_excs / cols_with_excs) in
        // the correctness gate, across all three DML shapes. Error cells
        // follow graft's capture conventions — a `<col>_errormsg` sidecar
        // and a cellmd-style struct with errortype — and every count is a
        // closed form of doc_id for the oracle. Insert counts come from
        // parquet footer statistics, update counts ride the rewrite's
        // Observation: the gate also proves those two independent count
        // paths agree with the data.
        import graft.catalog.{Catalog, ColumnDef, GraftTable}
        import s.implicits._
        val cat = new Catalog(
          graft.QueryUtil.tempDir("graft-q152").toString)
        val t = GraftTable.create(s, cat, "status_docs", Seq(
          ColumnDef("doc_id", "bigint"),
          ColumnDef("x", "double"),
          ColumnDef("inv", "double",
            computedExpr = Some("CASE WHEN x <> 0 THEN 10 / x END")),
          ColumnDef("inv_errormsg", "string",
            computedExpr = Some("CASE WHEN x = 0 THEN 'division by zero' END")),
          ColumnDef("md", "struct<errortype:string,errormsg:string>",
            computedExpr = Some(
              "named_struct('errortype', CASE WHEN x < 0 THEN 'ValueError' END," +
                " 'errormsg', CASE WHEN x < 0 THEN 'negative input' END)"))))
        // x: 0 on doc_id%7=0 (inv sidecar error), negative on the remaining
        // doc_id%11=0 (md struct error), clean otherwise
        val st1 = t.insertStatus(T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .select(col("doc_id"), expr(
            "CASE WHEN doc_id % 7 = 0 THEN 0.0 " +
              "WHEN doc_id % 11 = 0 THEN -1.0 " +
              "ELSE CAST(doc_id AS DOUBLE) END").as("x"))
          .repartition(3))
        val st2 = t.updateStatus(Map("x" -> "0.0"),
          "doc_id >= 10 AND doc_id < 15")
        val st3 = t.batchUpdateStatus(
          Seq((1L, -3.0), (2L, -3.0)).toDF("doc_id", "x"), Seq("doc_id"))
        Seq((st1.numRows, st1.numComputedValues, st1.numExcs,
          st1.colsWithExcs.sorted.mkString(","),
          st2.numRows, st2.numExcs, st2.colsWithExcs.sorted.mkString(","),
          st3.numRows, st3.numExcs, st3.colsWithExcs.sorted.mkString(",")))
          .toDF("n_ins", "cv_ins", "exc_ins", "cols_ins",
            "n_upd", "exc_upd", "cols_upd", "n_bu", "exc_bu", "cols_bu")
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_ins,
             |  CAST(count(*) * 3 AS BIGINT) AS cv_ins,
             |  CAST(count(CASE WHEN doc_id % 7 = 0 OR doc_id % 11 = 0
             |                  THEN 1 END) AS BIGINT) AS exc_ins,
             |  'inv,md' AS cols_ins,
             |  CAST(5 AS BIGINT) AS n_upd, CAST(5 AS BIGINT) AS exc_upd,
             |  'inv' AS cols_upd,
             |  CAST(2 AS BIGINT) AS n_bu, CAST(2 AS BIGINT) AS exc_bu,
             |  'md' AS cols_bu
             |FROM documents WHERE doc_id < 40""".stripMargin),
    ),
    QueryDef(
      "q153_batch_upsert",
      (s, dir) => {
        // The reference's full batch_update surface in the correctness
        // gate (catalog/table.py:978-1022, table_version.py:1160-1206):
        // if_not_exists='insert' upserts (matched rows update + cascade,
        // unmatched insert with computed columns evaluated), 'error'
        // raises with nothing committed, cascade=False leaves dependents
        // stale, and return_rows carries the new stored values. Every
        // value the gate emits is a closed form of doc_id the oracle
        // recomputes from the raw table.
        import graft.catalog.{Catalog, ColumnDef, GraftTable}
        val cat = new Catalog(
          graft.QueryUtil.tempDir("graft-q153").toString)
        val t = GraftTable.create(s, cat, "upsert_docs", Seq(
          ColumnDef("doc_id", "bigint"),
          ColumnDef("score", "double"),
          ColumnDef("score2", "double", computedExpr = Some("score * 2"))))
        t.insert(T(s, dir, "documents").filter(col("doc_id") < 30)
          .select(col("doc_id"), col("doc_id").cast("double").as("score"))
          .repartition(3))
        // cascade=false: score2 keeps the stale 0.0 while score moves
        t.update(Map("score" -> "999.0"), "doc_id = 0", cascade = false)
        val staleOk = t.read().filter(col("doc_id") === 0)
          .select(col("score"), col("score2")).head() match {
          case r => r.getDouble(0) == 999.0 && r.getDouble(1) == 0.0
        }
        // default mode is the reference's 'error': raises, commits nothing
        val v0 = t.currentVersion
        val errRaised =
          try {
            import s.implicits._
            t.batchUpdate(Seq((100L, 5.0)).toDF("doc_id", "score"),
              Seq("doc_id"))
            false
          } catch { case _: NoSuchElementException => true }
        val verUnchanged = t.currentVersion == v0
        // the upsert: [20,30) matches (update + cascade), [30,40) inserts
        val st = t.batchUpdateStatus(
          T(s, dir, "documents")
            .filter(col("doc_id") >= 20 && col("doc_id") < 40)
            .select(col("doc_id"),
              (col("doc_id") * 10).cast("double").as("score")),
          Seq("doc_id"), ifNotExists = "insert", returnRows = true)
        val retRows = st.rows.get
        val retScore2 = retRows.map(_("score2").asInstanceOf[Double]).sum
        t.read().agg(
            count(lit(1)).as("n_final"),
            round(sum(col("score")), 1).as("score_sum"),
            round(sum(col("score2")), 1).as("score2_sum"))
          .withColumn("n_upsert", lit(st.numRows))
          .withColumn("cv_upsert", lit(st.numComputedValues))
          .withColumn("rows_returned", lit(retRows.size.toLong))
          .withColumn("ret_score2_sum", round(lit(retScore2), 1))
          .withColumn("err_raised", lit(errRaised))
          .withColumn("ver_unchanged", lit(verUnchanged))
          .withColumn("stale_ok", lit(staleOk))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_final,
             |  round(sum(CASE WHEN doc_id = 0 THEN 999.0
             |    WHEN doc_id < 20 THEN CAST(doc_id AS DOUBLE)
             |    ELSE doc_id * 10.0 END), 1) AS score_sum,
             |  round(sum(CASE WHEN doc_id = 0 THEN 0.0
             |    WHEN doc_id < 20 THEN doc_id * 2.0
             |    ELSE doc_id * 20.0 END), 1) AS score2_sum,
             |  CAST(20 AS BIGINT) AS n_upsert,
             |  CAST(20 AS BIGINT) AS cv_upsert,
             |  CAST(20 AS BIGINT) AS rows_returned,
             |  round(sum(CASE WHEN doc_id >= 20 THEN doc_id * 20.0
             |    ELSE 0.0 END), 1) AS ret_score2_sum,
             |  TRUE AS err_raised, TRUE AS ver_unchanged, TRUE AS stale_ok
             |FROM documents WHERE doc_id < 40""".stripMargin),
    ),
    QueryDef(
      "q154_minhash_index",
      (s, dir) => {
        // DML-maintained MinHash-LSH near-dup index in the correctness
        // gate. Corpus: 5 duplicate groups keyed by doc_id % 5 (group
        // words are repeated letters, so cross-group char-trigram Jaccard
        // sits far below the 0.9 threshold and within-group is exactly
        // 1.0) — the verified pair count is a CLOSED FORM of the group
        // sizes after the full lifecycle (index built mid-corpus,
        // maintenance appends the rest, an update moves a doc between
        // groups, a delete shrinks one). eq_batch pins the differential
        // contract: the index's pairs equal the batch operator's
        // (Dedup.nearDuplicatePairs) on the live image, same hash family.
        import graft.catalog.{Catalog, ColumnDef, GraftTable}
        import s.implicits._
        val cat = new Catalog(
          graft.QueryUtil.tempDir("graft-q154").toString)
        val t = GraftTable.create(s, cat, "mh_docs", Seq(
          ColumnDef("doc_id", "bigint"), ColumnDef("body", "string")))
        val grpWord = repeat(
          expr("substr('wxyzv', CAST(doc_id % 5 AS INT) + 1, 1)"), 6)
        val body = concat_ws(" ", grpWord, lit("aa"), grpWord, lit("bb"),
          grpWord, lit("cc"), grpWord, lit("dd"), grpWord, lit("ee"))
        def slice(lo: Long, hi: Long) = T(s, dir, "documents")
          .filter(col("doc_id") >= lo && col("doc_id") < hi)
          .select(col("doc_id"), body.as("body"))
        t.insert(slice(0, 30).repartition(3))
        t.createMinhashIndex("nd", "body", "doc_id")
        t.insert(slice(30, 50).repartition(2)) // maintenance signs only these
        // doc 1: group 1 → group 0's text; doc 2 (group 2) deleted
        t.batchUpdate(slice(0, 1).select(lit(1L).as("doc_id"), col("body")),
          Seq("doc_id"))
        t.delete("doc_id = 2")
        // gate-sized results (hundreds of pairs): ONE action per pipeline,
        // set comparison on the driver — re-running the band self-join for
        // each aggregate would cost three extra full pipelines. The three
        // verification pipelines (index pairs, batch-operator pairs,
        // incoming-probe search) are INDEPENDENT reads of the final table
        // image, so their jobs overlap from a thread pool (guide §2.6) —
        // measured 2.7 s sequential → ~1.2 s overlapped at sf0.1 (the DML
        // lifecycle above is inherently ordered and stays sequential).
        // incoming probe: one doc with group 3's text, one unrelated
        val z = "z" * 6 // group 3's word: substr('wxyzv', 4, 1) repeated
        val incoming = Seq(
          (9000L, s"$z aa $z bb $z cc $z dd $z ee"),
          (9001L, "totally different content with no shared trigram runs"))
          .toDF("qid", "txt")
        val results = graft.QueryUtil.inParallel(Seq(
          () => t.indexNearDupPairs("nd", 0.9).collect(),
          () => graft.operators.Dedup.nearDuplicatePairs(
              t.read(), "body", "doc_id",
              jaccardThreshold = 0.9, numHashes = 8, bands = 2,
              shingleSize = 3).collect(),
          () => t.searchNearDups("nd", incoming, "txt", "qid", 0.9).collect(),
        ))
        val idxRows = results(0)
        val idxSet = idxRows.map(r => (r.getLong(0), r.getLong(1))).toSet
        val batchSet =
          results(1).map(r => (r.getLong(0), r.getLong(1))).toSet
        val eqBatch = idxSet == batchSet
        val allOne = idxRows.nonEmpty && idxRows.forall(_.getDouble(2) == 1.0)
        val hitRows = results(2)
        val hitsOne = hitRows.nonEmpty && hitRows.forall(_.getDouble(2) == 1.0)
        Seq((idxRows.length.toLong, eqBatch, allOne,
            hitRows.length.toLong, hitsOne))
          .toDF("n_pairs", "eq_batch", "all_jaccard_one",
            "n_hits", "hits_jaccard_one")
      },
      Some("""WITH g AS (SELECT doc_id,
             |    CASE WHEN doc_id = 1 THEN 0 ELSE doc_id % 5 END AS grp
             |  FROM documents WHERE doc_id < 50 AND doc_id <> 2),
             |c AS (SELECT grp, count(*) AS n FROM g GROUP BY 1)
             |SELECT CAST(sum(n * (n - 1) / 2) AS BIGINT) AS n_pairs,
             |  TRUE AS eq_batch, TRUE AS all_jaccard_one,
             |  (SELECT CAST(count(*) AS BIGINT) FROM g WHERE grp = 3) AS n_hits,
             |  TRUE AS hits_jaccard_one
             |FROM c""".stripMargin),
    ),
    QueryDef(
      "q83_schema_evolution",
      (s, dir) => {
        // round-2 schema DDL in the correctness gate: rename (metadata-only
        // via physical-name mapping), drop (droppedVersion stamp), and a
        // computed add_column over the RENAMED name, plus time travel to a
        // pre-evolution version — the oracle recomputes every projection
        // from the raw table.
        import graft.catalog.{Catalog, ColumnDef, GraftTable}
        val cat = new Catalog(
          graft.QueryUtil.tempDir("graft-q83").toString)
        val t = GraftTable.create(s, cat, "li_s", Seq(
          ColumnDef("l_orderkey", "bigint"), ColumnDef("l_linenumber", "int"),
          ColumnDef("l_quantity", "double"), ColumnDef("l_tax", "double")))
        val v1 = t.insert(T(s, dir, "lineitem")
          .filter(col("l_orderkey") < 500)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_tax"))
        t.renameColumn("l_quantity", "qty")
        t.dropColumn("l_tax")
        t.addColumn(ColumnDef("qty2", "double", Some("qty * 2")))
        val now = t.read()
          .agg(count(lit(1)).as("n"), round(sum(col("qty2")), 2).as("qty2_sum"),
            lit(t.read().columns.mkString(",")).as("cols"))
          .withColumn("state", lit("evolved"))
        val past = t.read(Some(v1))
          .agg(count(lit(1)).as("n"), round(sum(col("l_tax")), 4).as("qty2_sum"),
            lit(t.read(Some(v1)).columns.mkString(",")).as("cols"))
          .withColumn("state", lit("v1"))
        now.union(past).select("state", "n", "qty2_sum", "cols")
          .transform(graft.QueryUtil.orderedSmall(_, col("state")))
      },
      Some("""SELECT 'evolved' AS state, count(*) AS n,
             |round(sum(l_quantity * 2), 2) AS qty2_sum,
             |'l_orderkey,l_linenumber,qty,qty2' AS cols
             |FROM lineitem WHERE l_orderkey < 500
             |UNION ALL
             |SELECT 'v1', count(*), round(sum(l_tax), 4),
             |'l_orderkey,l_linenumber,qty,l_tax'
             |FROM lineitem WHERE l_orderkey < 500
             |ORDER BY state""".stripMargin),
    ),
    QueryDef(
      "q86_view_maintenance",
      (s, dir) => {
        // incremental materialized-view lifecycle in the oracle gate
        // (reference view sync, `catalog/view.py` + SURVEY §2.11): create a
        // predicate+select view, insert into the base, sync, delete from the
        // base, sync again — the view's final contents must equal the oracle
        // recomputing the predicate over the surviving base rows.
        import graft.catalog.{Catalog, ColumnDef, GraftTable, Views}
        val cat = new Catalog(
          graft.QueryUtil.tempDir("graft-q86").toString)
        val base = GraftTable.create(s, cat, "li_b", Seq(
          ColumnDef("l_orderkey", "bigint"), ColumnDef("l_linenumber", "int"),
          ColumnDef("l_quantity", "double")))
        val src = T(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity")
        base.insert(src.filter(col("l_orderkey") < 800))
        val view = Views.createMaterializedView(s, cat, "mv", base,
          Some("l_quantity > 10"),
          Seq("l_orderkey" -> "l_orderkey", "qty2" -> "l_quantity * 2"))
        base.insert(src.filter(col("l_orderkey") >= 800 && col("l_orderkey") < 1200))
        Views.syncMaterializedView(view, base, Some("l_quantity > 10"),
          Seq("l_orderkey" -> "l_orderkey", "qty2" -> "l_quantity * 2"))
        base.delete("l_orderkey % 7 = 0")
        Views.syncMaterializedView(view, base, Some("l_quantity > 10"),
          Seq("l_orderkey" -> "l_orderkey", "qty2" -> "l_quantity * 2"))
        view.read().agg(count(lit(1)).as("n"),
          round(sum(col("qty2")), 2).as("qty2_sum"))
      },
      Some("""SELECT count(*) AS n, round(sum(l_quantity * 2), 2) AS qty2_sum
             |FROM lineitem
             |WHERE l_orderkey < 1200 AND l_quantity > 10
             |  AND l_orderkey % 7 != 0""".stripMargin),
    ),
    QueryDef(
      "q87_batch_update",
      (s, dir) => {
        // RowUpdateNode / batch_update + computed-column backfill in the
        // oracle gate (reference `table.batch_update`, `tbl_ops` backfill):
        // keyed updates land via the broadcast-join COW path, then a
        // computed column added AFTER the update backfills over the updated
        // values. The oracle recomputes both from raw lineitem.
        import graft.catalog.{Catalog, ColumnDef, GraftTable}
        val cat = new Catalog(
          graft.QueryUtil.tempDir("graft-q87").toString)
        val t = GraftTable.create(s, cat, "li_u", Seq(
          ColumnDef("l_orderkey", "bigint"), ColumnDef("l_linenumber", "int"),
          ColumnDef("qty", "double")))
        // (l_orderkey, l_linenumber) is not unique in the corpus — dedup to
        // a keyed image so batch_update keys address exactly one row
        val keyed = T(s, dir, "lineitem")
          .filter(col("l_orderkey") < 600)
          .groupBy(col("l_orderkey"), col("l_linenumber"))
          .agg(max(col("l_quantity")).as("qty"))
        t.insert(keyed)
        val updates = keyed.filter(col("l_orderkey") % 5 === 0)
          .select(col("l_orderkey"), col("l_linenumber"),
            (col("qty") + 100).as("qty"))
        t.batchUpdate(updates, Seq("l_orderkey", "l_linenumber"))
        t.addColumn(ColumnDef("qty3", "double", Some("qty * 3")))
        t.read().agg(count(lit(1)).as("n"),
          round(sum(col("qty")), 2).as("qty_sum"),
          round(sum(col("qty3")), 2).as("qty3_sum"))
      },
      Some("""WITH d AS (
             |  SELECT l_orderkey, l_linenumber, max(l_quantity) AS q
             |  FROM lineitem WHERE l_orderkey < 600 GROUP BY 1, 2),
             |u AS (
             |  SELECT CASE WHEN l_orderkey % 5 = 0 THEN q + 100 ELSE q END AS q
             |  FROM d)
             |SELECT count(*) AS n, round(sum(q), 2) AS qty_sum,
             |round(sum(q * 3), 2) AS qty3_sum FROM u""".stripMargin),
    ),
    QueryDef(
      "q88_connector_roundtrip",
      (s, dir) => {
        // io connectors in the oracle gate: lineitem slices round-trip
        // through the Iceberg directory layout (distributed parquet +
        // avro/JSON metadata) and through a pure-JVM xlsx file — the
        // re-imported aggregates must equal the oracle computing directly
        // on lineitem. Exercises schema mapping, snapshot resolution and
        // type inference end-to-end, not just the happy write path.
        import graft.io.{Excel, Iceberg}
        val tmp = graft.QueryUtil.tempDir("graft-q88")
        val src = T(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity")
        Iceberg.exportIceberg(src.filter(col("l_orderkey") < 300),
          tmp.resolve("ice").toString)
        val ice = Iceberg.importIceberg(s, tmp.resolve("ice").toString)
          .agg(count(lit(1)).as("ice_n"),
            round(sum(col("l_quantity")), 2).as("ice_qty"))
        Excel.exportExcel(src.filter(col("l_orderkey") < 40),
          tmp.resolve("t.xlsx").toString)
        val xls = Excel.importExcel(s, tmp.resolve("t.xlsx").toString)
          .agg(count(lit(1)).as("xls_n"),
            round(sum(col("l_quantity")), 2).as("xls_qty"))
        ice.crossJoin(xls)
      },
      Some("""SELECT
             |(SELECT count(*) FROM lineitem WHERE l_orderkey < 300) AS ice_n,
             |(SELECT round(sum(l_quantity), 2) FROM lineitem WHERE l_orderkey < 300) AS ice_qty,
             |(SELECT count(*) FROM lineitem WHERE l_orderkey < 40) AS xls_n,
             |(SELECT round(sum(l_quantity), 2) FROM lineitem WHERE l_orderkey < 40) AS xls_qty""".stripMargin),
    ),
    QueryDef(
      "q75_percentile_group",
      (s, dir) => {
        T(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
            round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
            round(expr("percentile(l_discount, 0.25)"), 6).as("p25_disc"),
          )
          .transform(graft.QueryUtil.orderedSmall(_, col("l_returnflag")))
      },
      Some("""SELECT l_returnflag,
             |round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
             |round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
             |round(quantile_cont(l_discount, 0.25), 6) AS p25_disc
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ),
    QueryDef(
      "q76_scalar_subquery",
      (s, dir) => {
        // SQL entry path + scalar subquery (Catalyst plans it as a
        // subquery-broadcast, no driver round trip).
        T(s, dir, "orders").createOrReplaceTempView("orders_v")
        s.sql("""SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
                |FROM orders_v
                |WHERE o_totalprice > 1.9 * (SELECT avg(o_totalprice) FROM orders_v)
                |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
             |FROM orders
             |WHERE o_totalprice > 1.9 * (SELECT avg(o_totalprice) FROM orders)
             |ORDER BY o_orderkey""".stripMargin),
    ),
    QueryDef(
      "q77_video_pipeline",
      (s, dir) => {
        // REAL video container codec in the oracle gate (reference video
        // family, `functions/video/iterators.py`, `editing.py`): synthesize
        // an MJPEG-AVI per row with id-derived frame count/geometry, read
        // header metadata, clip off frame 0, explode the remaining frames
        // and JPEG-decode each one — every output column must match the
        // oracle's closed-form arithmetic.
        import graft.functions.{Images, Video}
        val n = (col("doc_id") % 5 + 2).cast("int")  // 2..6 frames
        val w = (col("doc_id") % 16 + 8).cast("int") // 8..23
        val h = (col("doc_id") % 8 + 8).cast("int")  // 8..15
        val rgb = (col("doc_id") * 999 % 0xffffff).cast("int")
        T(s, dir, "documents")
          .filter(col("doc_id") < 50)
          .withColumn("vid", Video.makeTestVideoUdf(n, w, h, rgb, lit(10)))
          .withColumn("meta", Video.getMetadata(col("vid")))
          .withColumn("clip", Video.clip(col("vid"), lit(1), n))
          .withColumn("fr", explode(Video.frameIterator(col("clip"), lit(1))))
          .withColumn("fmeta", Images.getMetadata(col("fr._3")))
          .groupBy(col("doc_id"))
          .agg(
            first(col("meta.frames")).as("frames"),
            first(col("meta.width")).as("width"),
            first(col("meta.height")).as("height"),
            first(col("meta.fps")).as("fps"),
            first(col("meta.duration_s")).as("duration_s"),
            count(lit(1)).as("clip_frames"),
            min(col("fmeta._1")).as("frame_w"),
            min(col("fmeta._2")).as("frame_h"),
          )
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id,
             |(doc_id % 5 + 2)::INT AS frames,
             |(doc_id % 16 + 8)::INT AS width,
             |(doc_id % 8 + 8)::INT AS height,
             |10.0 AS fps,
             |(doc_id % 5 + 2) / 10.0 AS duration_s,
             |(doc_id % 5 + 1)::BIGINT AS clip_frames,
             |(doc_id % 16 + 8)::INT AS frame_w,
             |(doc_id % 8 + 8)::INT AS frame_h
             |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q78_image_ops",
      (s, dir) => {
        // the round-2 PIL-mirror ops in the oracle gate: convert('L') with
        // PIL's exact fixed-point luminance, per-band extrema, reduce()'s
        // ceil-div geometry, and getbbox of a solid image — all closed-form
        // arithmetic the oracle recomputes (reference `functions/image.py`
        // convert/getextrema/reduce/getbbox).
        import graft.functions.Images
        val w = (col("doc_id") % 16 + 8).cast("int")
        val h = (col("doc_id") % 8 + 8).cast("int")
        val rgb = (col("doc_id") * 999 % 0xffffff).cast("int")
        T(s, dir, "documents")
          .filter(col("doc_id").between(1, 50))
          .withColumn("img", Images.makeSolidPng(w, h, rgb))
          .withColumn("lpx",
            Images.getSample(Images.convert(col("img"), lit("L")), lit(0), lit(0)))
          .withColumn("ext", Images.getExtrema(col("img")))
          .withColumn("rme", Images.getMetadata(Images.reduceBox(col("img"), lit(3))))
          .withColumn("bb", Images.getBbox(col("img")))
          .select(col("doc_id"),
            col("lpx").cast("long").as("l_val"),
            col("ext")(0)(0).cast("long").as("red"),
            col("ext")(1)(1).cast("long").as("green"),
            col("ext")(2)(0).cast("long").as("blue"),
            col("rme._1").cast("long").as("rw"),
            col("rme._2").cast("long").as("rh"),
            col("bb")(2).cast("long").as("bb_r"),
            col("bb")(3).cast("long").as("bb_lo"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id,
             |(19595 * ((doc_id*999 % 16777215) // 65536)
             |  + 38470 * (((doc_id*999 % 16777215) // 256) % 256)
             |  + 7471 * ((doc_id*999 % 16777215) % 256) + 32768) // 65536 AS l_val,
             |(doc_id*999 % 16777215) // 65536 AS red,
             |((doc_id*999 % 16777215) // 256) % 256 AS green,
             |(doc_id*999 % 16777215) % 256 AS blue,
             |(doc_id % 16 + 8 + 2) // 3 AS rw,
             |(doc_id % 8 + 8 + 2) // 3 AS rh,
             |doc_id % 16 + 8 AS bb_r,
             |doc_id % 8 + 8 AS bb_lo
             |FROM documents WHERE doc_id BETWEEN 1 AND 50 ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q79_doc_headings",
      (s, dir) => {
        // document_splitter heading mode in the oracle gate (reference
        // `functions/document.py:24-45`): build a markdown doc around each
        // corpus text, split at headings, and check the chunk metadata —
        // title, open-heading map, sourceline — against closed-form SQL.
        import graft.functions.Iterators
        val mdDoc = concat(lit("# Doc "), col("doc_id"), lit("\n"), col("text"),
          lit("\n## Details\n"), col("text"))
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .select(col("doc_id"), col("text"),
            posexplode(Iterators.headingChunks(mdDoc)).as(Seq("idx", "ch")))
          .select(col("doc_id"), col("idx"),
            col("ch.title").as("title"),
            element_at(col("ch.heading"), "h1").as("h1"),
            element_at(col("ch.heading"), "h2").as("h2"),
            col("ch.sourceline").as("sourceline"),
            length(col("ch.text")).cast("long").as("chunk_len"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id"), col("idx")))
      },
      Some("""SELECT doc_id, i AS idx,
             |'Doc ' || doc_id AS title,
             |'Doc ' || doc_id AS h1,
             |CASE WHEN i = 1 THEN 'Details' END AS h2,
             |CASE WHEN i = 0 THEN 2 ELSE 4 END AS sourceline,
             |length(trim(text))::BIGINT AS chunk_len
             |FROM documents, (VALUES (0), (1)) AS t(i)
             |WHERE doc_id < 40 AND length(trim(text)) > 0
             |ORDER BY doc_id, idx""".stripMargin),
    ),
    QueryDef(
      "q82_video_filters",
      (s, dir) => {
        // round-2 video filter + audio-track family in the oracle gate
        // (reference `functions/video/filters.py`, `editing.py`
        // extract_audio/with_audio): synthesize an AVI, attach an
        // id-derived sine track, rotate and retime — container geometry,
        // fps, duration and extracted-audio sample counts are all
        // closed-form arithmetic.
        import graft.functions.{Audio, Video}
        val n = (col("doc_id") % 4 + 2).cast("int")  // 2..5 frames
        val w = (col("doc_id") % 6 + 8).cast("int")  // 8..13
        val h = (col("doc_id") % 3 + 6).cast("int")  // 6..8
        val secs = (col("doc_id") % 3 + 1).cast("double") * 0.1
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("vid", Video.makeTestVideoUdf(n, w, h, lit(0x334455), lit(10)))
          .withColumn("wav", Audio.makeSineWav(secs, lit(220.0)))
          .withColumn("va", Video.withAudio(col("vid"), col("wav")))
          .withColumn("rot", Video.rotateVideo(col("va"), lit(90)))
          .withColumn("fast", Video.speed(col("va"), lit(2.0)))
          .withColumn("rmeta", Video.getMetadata(col("rot")))
          .withColumn("fmeta", Video.getMetadata(col("fast")))
          .withColumn("back", Audio.getMetadata(Video.extractAudio(col("fast"))))
          .select(col("doc_id"),
            col("rmeta.width").as("rot_w"),
            col("rmeta.height").as("rot_h"),
            col("fmeta.fps").as("fast_fps"),
            col("fmeta.duration_s").as("fast_dur"),
            // speed 2.0 halves the audio: (secs*16000)/2 samples
            col("back._3").cast("long").as("n_samples"),
            col("back._1").cast("long").as("rate"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id,
             |(doc_id % 3 + 6)::INT AS rot_w,
             |(doc_id % 6 + 8)::INT AS rot_h,
             |20.0 AS fast_fps,
             |(doc_id % 4 + 2) / 20.0 AS fast_dur,
             |(doc_id % 3 + 1) * 800 AS n_samples,
             |16000 AS rate
             |FROM documents WHERE doc_id < 40 ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q80_query_template",
      (s, dir) => {
        // general @pxt.query per-row template (reference
        // `func/query_template_function.py:153-193`): a parameterized
        // aggregate runs "for every parameter row" — rewritten as ONE
        // broadcast join + group-by, not a query per row.
        import graft.functions.QueryTemplates
        val params = T(s, dir, "nation").filter(col("n_nationkey") < 5)
          .select(col("n_nationkey").as("pk"),
            (lit(50000.0) * (col("n_nationkey") + 1)).as("threshold"))
        val corpus = T(s, dir, "orders")
        QueryTemplates.aggregatePerParam(params, Seq("pk", "threshold"), corpus,
          corpus("o_totalprice") > params("threshold"),
          Seq(count(corpus("o_orderkey")).as("n_over"),
            round(sum(corpus("o_totalprice")), 2).as("total_over")))
          .orderBy(col("pk"))
      },
      Some("""SELECT n_nationkey AS pk,
             |50000.0 * (n_nationkey + 1) AS threshold,
             |count(o_orderkey) AS n_over,
             |round(sum(o_totalprice), 2) AS total_over
             |FROM nation LEFT JOIN orders ON o_totalprice > 50000.0 * (n_nationkey + 1)
             |WHERE n_nationkey < 5
             |GROUP BY 1, 2 ORDER BY pk""".stripMargin),
    ),
    QueryDef(
      "q89_video_motion",
      (s, dir) => {
        // the motion/compositing end of the filter family in the oracle
        // gate (reference `filters.py` overlay_image:253, transition:799,
        // scroll:1276, pan:1390, zoom:1461): per-row synthesized clips run
        // through xfade-style transition, a scrolling viewport, a pan and
        // a zoom — output frame counts and geometry are closed-form.
        import graft.functions.{Images, Video}
        val n1 = (col("doc_id") % 4 + 3).cast("int") // 3..6 frames
        val n2 = (col("doc_id") % 3 + 2).cast("int") // 2..4 frames
        val w = (col("doc_id") % 12 + 12).cast("int") // 12..23
        val h = (col("doc_id") % 6 + 10).cast("int") // 10..15
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("v1", Video.makeTestVideoUdf(n1, w, h, lit(0x803020), lit(10)))
          .withColumn("v2", Video.makeTestVideoUdf(n2, w, h, lit(0x203080), lit(10)))
          .withColumn("logo", Images.makeSolidPng(lit(4), lit(4), lit(0x00ff00)))
          // 0.2s at 10 fps → 2-frame overlap (n1 ≥ 3, n2 ≥ 2 always)
          .withColumn("xf", Video.transition(col("v1"), col("v2"), lit("fade"), lit(0.2)))
          .withColumn("sc", Video.scroll(col("v1"), w - 4, h - 2, lit(10.0),
            lit(0.0), lit(0), lit(0)))
          .withColumn("pn", Video.pan(col("v1"), lit(1), lit(0), lit(0.25)))
          .withColumn("zm", Video.zoom(col("v1"), lit(2.0), lit(2.0), lit(0.5), lit(0.5)))
          .withColumn("ov", Video.overlayImage(col("v1"), col("logo"), lit("left"),
            lit(1), lit("top"), lit(1), lit(Double.NaN), lit(1.0),
            lit(Double.NaN), lit(Double.NaN)))
          .withColumn("xm", Video.getMetadata(col("xf")))
          .withColumn("sm", Video.getMetadata(col("sc")))
          .withColumn("pm", Video.getMetadata(col("pn")))
          .withColumn("zmm", Video.getMetadata(col("zm")))
          .withColumn("om", Video.getMetadata(col("ov")))
          .select(col("doc_id"),
            col("xm.frames").as("xfade_frames"),
            col("sm.width").as("scroll_w"),
            col("sm.height").as("scroll_h"),
            col("sm.frames").as("scroll_frames"),
            col("pm.width").as("pan_w"),
            col("pm.height").as("pan_h"),
            col("zmm.width").as("zoom_w"),
            col("zmm.height").as("zoom_h"),
            col("om.frames").as("overlay_frames"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id,
             |((doc_id % 4 + 3) + (doc_id % 3 + 2) - 2)::INT AS xfade_frames,
             |(doc_id % 12 + 12 - 4)::INT AS scroll_w,
             |(doc_id % 6 + 10 - 2)::INT AS scroll_h,
             |(doc_id % 4 + 3)::INT AS scroll_frames,
             |floor((doc_id % 12 + 12) * 0.75)::INT AS pan_w,
             |(doc_id % 6 + 10)::INT AS pan_h,
             |(doc_id % 12 + 12)::INT AS zoom_w,
             |(doc_id % 6 + 10)::INT AS zoom_h,
             |(doc_id % 4 + 3)::INT AS overlay_frames
             |FROM documents WHERE doc_id < 40 ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q127_scene_cuts",
      (s, dir) => {
        // scene-detection in the oracle gate (reference
        // `functions/video/scene_detect.py:133` ContentDetector semantics;
        // the adaptive/threshold/histogram/hash variants are
        // SceneDetectSpec-pinned): three solid-color blocks with
        // doc_id-derived lengths give closed-form cut positions. Within a
        // block consecutive frames are byte-identical JPEGs (score exactly
        // 0); at the red→cyan and cyan→white boundaries the weighted HSV
        // deltas clear the threshold with ≥2× margin. One SceneInfo per
        // cut, start/duration in seconds at 10 fps (the reference's
        // `_scene_detect` list semantics — the tail segment after the last
        // cut is not emitted).
        import graft.functions.{SceneDetect, Video}
        val n1 = (col("doc_id") % 4 + 3).cast("int") // 3..6 frames
        val n2 = (col("doc_id") % 3 + 2).cast("int") // 2..4 frames
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("v", Video.makeBlockVideoUdf(
            array(n1, n2, lit(3)),
            array(lit(0xff0000), lit(0x00ffff), lit(0xffffff)),
            lit(16), lit(12), lit(10)))
          .select(col("doc_id"),
            posexplode(SceneDetect.sceneDetectContentUdf(
              col("v"), lit(15.0), lit(2), lit(false))))
          .select(col("doc_id"), col("pos").cast("long").as("scene_idx"),
            col("col.start_time").as("start_time"),
            col("col.start_pts").as("start_pts"),
            col("col.duration").as("duration"))
          .transform(graft.QueryUtil.orderedSmall(_,
            col("doc_id"), col("scene_idx")))
      },
      Some("""SELECT doc_id, 0::BIGINT AS scene_idx, 0.0 AS start_time,
             |  0::BIGINT AS start_pts, (doc_id % 4 + 3) / 10.0 AS duration
             |FROM documents WHERE doc_id < 40
             |UNION ALL
             |SELECT doc_id, 1::BIGINT, (doc_id % 4 + 3) / 10.0,
             |  (doc_id % 4 + 3)::BIGINT, (doc_id % 3 + 2) / 10.0
             |FROM documents WHERE doc_id < 40
             |ORDER BY doc_id, scene_idx""".stripMargin),
    ),
    QueryDef(
      "q128_video_segments",
      (s, dir) => {
        // the reference's video_splitter iterator view (`functions/video/
        // iterators.py:361`) in the oracle gate: duration/overlap/
        // min-duration segmentation of a doc-length video. Boundaries are
        // frame-snapped on the fixed-fps timeline, so every segment's
        // start/end/frame-count is a closed form of doc_id: step 0.8 s =
        // 8 frames, window 1.2 s = 12 frames, last segment dropped under
        // 0.5 s. The segment_times mode is VideoSpec-pinned.
        import graft.functions.Video
        val n = (col("doc_id") % 7 + 17).cast("int") // 17..23 frames @10fps
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("v", Video.makeTestVideoUdf(n, lit(16), lit(12),
            lit(0x406080), lit(10)))
          .select(col("doc_id"), posexplode(
            Video.videoSplitter(col("v"), lit(1.2), lit(0.4), lit(0.5))))
          .withColumn("m", Video.getMetadata(col("col.video_segment")))
          .select(col("doc_id"), col("pos").cast("long").as("seg_idx"),
            col("col.segment_start").as("segment_start"),
            col("col.segment_start_pts").as("segment_start_pts"),
            col("col.segment_end").as("segment_end"),
            col("m.frames").as("seg_frames"))
          .transform(graft.QueryUtil.orderedSmall(_,
            col("doc_id"), col("seg_idx")))
      },
      Some("""WITH d AS (SELECT doc_id, (doc_id % 7 + 17)::INT AS n
             |  FROM documents WHERE doc_id < 40),
             |k AS (SELECT unnest(generate_series(0, 3)) AS k)
             |SELECT doc_id, k::BIGINT AS seg_idx,
             |  (8*k)/10.0 AS segment_start,
             |  (8*k)::BIGINT AS segment_start_pts,
             |  least(n, 8*k + 12)/10.0 AS segment_end,
             |  (least(n, 8*k + 12) - 8*k)::INT AS seg_frames
             |FROM d JOIN k ON 8*k < n AND least(n, 8*k+12) - 8*k >= 5
             |ORDER BY doc_id, seg_idx""".stripMargin),
    ),
    QueryDef(
      "q129_tile_grid",
      (s, dir) => {
        // the reference's overlapping tile_iterator (`functions/image.py:
        // 473-551`) in the oracle gate: 8×6 tiles with (2,2) overlap over a
        // doc-sized image. Grid length, row-major order, unclipped boxes
        // and the all-tiles-exact-size padding contract are closed forms of
        // doc_id; tile_w/tile_h decode the actual emitted tiles, so the
        // padded geometry is proven on real images (pixel-level blackspace
        // is ImagesSpec-pinned).
        import graft.functions.Images
        val w = (col("doc_id") % 13 + 20).cast("int") // 20..32
        val h = (col("doc_id") % 9 + 14).cast("int")  // 14..22
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("img", Images.makeSolidPng(w, h, lit(0x224466)))
          .select(col("doc_id"), posexplode(
            Images.tileIterator(col("img"), lit(8), lit(6), lit(2), lit(2))))
          .select(col("doc_id"), col("pos").cast("long").as("tile_pos"),
            col("col._1").cast("long").as("tile_i"),
            col("col._2").cast("long").as("tile_j"),
            col("col._3").cast("long").as("x1"),
            col("col._4").cast("long").as("y1"),
            col("col._5").cast("long").as("x2"),
            col("col._6").cast("long").as("y2"),
            Images.width(col("col._7")).cast("long").as("tile_w"),
            Images.height(col("col._7")).cast("long").as("tile_h"))
          .transform(graft.QueryUtil.orderedSmall(_,
            col("doc_id"), col("tile_pos")))
      },
      Some("""WITH d AS (SELECT doc_id, (doc_id % 13 + 20)::BIGINT AS w,
             |    (doc_id % 9 + 14)::BIGINT AS h
             |  FROM documents WHERE doc_id < 40),
             |g AS (SELECT i.i, j.j
             |  FROM (SELECT unnest(generate_series(0, 5)) AS i) i,
             |       (SELECT unnest(generate_series(0, 5)) AS j) j)
             |SELECT doc_id,
             |  (j * ((w - 3) // 6 + 1) + i)::BIGINT AS tile_pos,
             |  i::BIGINT AS tile_i, j::BIGINT AS tile_j,
             |  (i * 6)::BIGINT AS x1, (j * 4)::BIGINT AS y1,
             |  (i * 6 + 8)::BIGINT AS x2, (j * 4 + 6)::BIGINT AS y2,
             |  8::BIGINT AS tile_w, 6::BIGINT AS tile_h
             |FROM d JOIN g ON i <= (w - 3) // 6 AND j <= (h - 3) // 4
             |ORDER BY doc_id, tile_pos""".stripMargin),
    ),
    QueryDef(
      "q130_audio_segments",
      (s, dir) => {
        // the reference audio_splitter's budget mode with silence snapping
        // (`functions/audio.py:400-472`) in the oracle gate: tone(a) ∥
        // 0.3 s silence ∥ tone(0.6) at 16 kHz with a ∈ {0.4, 0.8, 1.2} by
        // doc_id%3, 1.0 s budget, 0.2 s min-silence. Every boundary is a
        // window-aligned closed form — the snap lands at the silence end
        // (a=0.4), exactly on a mid-silence budget (a=0.8), or not at all
        // within the first budget (a=1.2) — so the piecewise segment lists
        // are literal VALUES in the oracle. seg_seconds decodes the
        // emitted WAV, proving the segments are real audio.
        import graft.functions.Audio
        val a = (col("doc_id") % 3 + 1).cast("double") * lit(0.4)
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("t1", Audio.makeSineWav(a, lit(440.0)))
          .withColumn("sil", Audio.multiplyVolume(
            Audio.makeSineWav(lit(0.3), lit(440.0)), lit(0.0)))
          .withColumn("t2", Audio.makeSineWav(lit(0.6), lit(440.0)))
          .withColumn("wav", Audio.concatAudio(
            Audio.concatAudio(col("t1"), col("sil")), col("t2")))
          .select(col("doc_id"), posexplode(Audio.audioSegments(col("wav"),
            lit(1.0), lit(0.0), lit(0L), lit(0.01), lit(0.2), lit(false))))
          .select(col("doc_id"), col("pos").cast("long").as("seg_idx"),
            col("col.segment_start").as("segment_start"),
            col("col.segment_end").as("segment_end"),
            round(Audio.getMetadata(col("col.audio_segment"))
              .getField("_4"), 6).as("seg_seconds"))
          .transform(graft.QueryUtil.orderedSmall(_,
            col("doc_id"), col("seg_idx")))
      },
      Some("""WITH seg(m, seg_idx, segment_start, segment_end) AS (VALUES
             |  (0, 0, 0.0, 0.7), (0, 1, 0.7, 1.3),
             |  (1, 0, 0.0, 1.0), (1, 1, 1.0, 1.7),
             |  (2, 0, 0.0, 1.0), (2, 1, 1.0, 1.5), (2, 2, 1.5, 2.1))
             |SELECT d.doc_id, seg.seg_idx::BIGINT AS seg_idx,
             |  seg.segment_start, seg.segment_end,
             |  round(seg.segment_end - seg.segment_start, 6) AS seg_seconds
             |FROM (SELECT doc_id, (doc_id % 3)::INT AS m FROM documents
             |      WHERE doc_id < 40) d
             |JOIN seg ON seg.m = d.m
             |ORDER BY doc_id, seg_idx""".stripMargin),
    ),
    QueryDef(
      "q135_bbox_geometry",
      (s, dir) => {
        // the bbox-geometry family (reference `functions/vision.py:
        // 460-1426`) in the oracle gate: doc_id-derived integer boxes run
        // pad → resize_canvas (×2, ×3) → clip_to_canvas(30×40,
        // min_visibility 0.5). Every step is integer-exact closed-form
        // arithmetic (floor(x+0.5) on whole inputs is identity), and the
        // visibility filter nulls out boxes mostly off-canvas — both the
        // surviving geometry and the null pattern are SQL-derivable.
        import graft.functions.Vision
        val x1 = (col("doc_id") % 7 + 2).cast("double")
        val y1 = (col("doc_id") % 5 + 3).cast("double")
        val x2 = x1 + lit(10.0) + (col("doc_id") % 3).cast("double")
        val y2 = y1 + lit(8.0)
        T(s, dir, "documents")
          .filter(col("doc_id") < 200)
          .withColumn("bs", array(array(x1, y1, x2, y2)))
          .withColumn("padded", Vision.bboxesPad(col("bs"), lit("xyxy"),
            lit(1.0), lit(2.0), lit(3.0), lit(4.0)))
          .withColumn("resized", Vision.bboxesResizeCanvas(col("padded"),
            lit("xyxy"), lit(0.0), lit(0.0), lit(0.0), lit(0.0),
            lit(2.0), lit(3.0)))
          .withColumn("clipped", Vision.bboxesClipToCanvas(col("resized"),
            lit("xyxy"), lit(30.0), lit(40.0), lit(0.5), lit(0.0)))
          .select(col("doc_id"),
            col("clipped")(0)(0).cast("long").as("cx1"),
            col("clipped")(0)(1).cast("long").as("cy1"),
            col("clipped")(0)(2).cast("long").as("cx2"),
            col("clipped")(0)(3).cast("long").as("cy2"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH b AS (SELECT doc_id,
             |    (doc_id % 7 + 2)::BIGINT AS x1, (doc_id % 5 + 3)::BIGINT AS y1,
             |    (doc_id % 7 + 2 + 10 + doc_id % 3)::BIGINT AS x2,
             |    (doc_id % 5 + 3 + 8)::BIGINT AS y2
             |  FROM documents WHERE doc_id < 200),
             |r AS (SELECT doc_id,
             |    2 * (x1 - 1) AS rx1, 3 * (y1 - 3) AS ry1,
             |    2 * (x2 + 2) AS rx2, 3 * (y2 + 4) AS ry2
             |  FROM b),
             |c AS (SELECT doc_id,
             |    greatest(0, least(rx1, 30)) AS cx1,
             |    greatest(0, least(ry1, 40)) AS cy1,
             |    greatest(0, least(rx2, 30)) AS cx2,
             |    greatest(0, least(ry2, 40)) AS cy2,
             |    (rx2 - rx1) * (ry2 - ry1) AS orig_area
             |  FROM r)
             |SELECT doc_id,
             |  CASE WHEN vis THEN cx1 ELSE NULL END AS cx1,
             |  CASE WHEN vis THEN cy1 ELSE NULL END AS cy1,
             |  CASE WHEN vis THEN cx2 ELSE NULL END AS cx2,
             |  CASE WHEN vis THEN cy2 ELSE NULL END AS cy2
             |FROM (SELECT *,
             |    (greatest(cx2 - cx1, 0) * greatest(cy2 - cy1, 0))::DOUBLE
             |      / orig_area >= 0.5 AS vis
             |  FROM c)
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q158_change_feed",
      (s, dir) => {
        // Change data feed (the Delta/Iceberg CDF analog, read straight
        // off the MVCC row images — GraftTable.changeFeed) in the
        // correctness gate: insert / partial update / delete on an orders
        // subset, then a clustered compaction (which must emit ZERO
        // events — images copy byte-identical), then the full-window feed
        // aggregated per change type. Every count and price sum is a
        // closed form over `orders` for the DuckDB oracle: preimages
        // carry the pre-update price, postimages the updated one, deletes
        // the image live at delete time (ok >= 600 rows were never
        // updated, so their prices are the originals).
        import graft.catalog.{Catalog, ColumnDef, GraftTable}
        val cat = new Catalog(
          graft.QueryUtil.tempDir("graft-q158").toString)
        val t = GraftTable.create(s, cat, "cdf_orders", Seq(
          ColumnDef("ok", "bigint"), ColumnDef("price", "double")))
        val v0 = t.currentVersion
        t.insert(T(s, dir, "orders")
          .filter(col("o_orderkey") < 800)
          .select(col("o_orderkey").as("ok"), col("o_totalprice").as("price"))
          .repartition(4))
        t.update(Map("price" -> "price + 1"), "ok < 400")
        t.delete("ok >= 600")
        val vEnd = t.currentVersion
        t.compact(targetFiles = 2, clusterBy = Seq("ok"))
        val compactSilent = t.changeFeed(vEnd).count() == 0L
        t.changeFeed(v0)
          .groupBy(col("_change_type").as("change_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("price")), 2).as("price_sum"))
          .withColumn("compact_silent", lit(compactSilent))
          .repartition(1).sortWithinPartitions(col("change_type"))
      },
      Some("""SELECT * FROM (
             |  SELECT 'delete' AS change_type, count(*) AS n,
             |    round(sum(o_totalprice), 2) AS price_sum,
             |    TRUE AS compact_silent
             |  FROM orders WHERE o_orderkey >= 600 AND o_orderkey < 800
             |  UNION ALL
             |  SELECT 'insert', count(*), round(sum(o_totalprice), 2), TRUE
             |  FROM orders WHERE o_orderkey < 800
             |  UNION ALL
             |  SELECT 'update_postimage', count(*),
             |    round(sum(o_totalprice + 1), 2), TRUE
             |  FROM orders WHERE o_orderkey < 400
             |  UNION ALL
             |  SELECT 'update_preimage', count(*),
             |    round(sum(o_totalprice), 2), TRUE
             |  FROM orders WHERE o_orderkey < 400
             |) ORDER BY change_type""".stripMargin),
    ),
    QueryDef(
      "q159_zorder_compact",
      (s, dir) => {
        // Z-order clustered compaction (OPTIMIZE ... ZORDER BY) in the
        // correctness gate: a 2-key lineitem subset (orderkey x partkey,
        // decorrelated in the corpus) inserted in three interleaved
        // batches, then compact(16, zOrder=true) interleaves equi-depth
        // rank bits so every file covers a hyper-rectangle. The oracle
        // recomputes a range aggregate from the raw table (content
        // preservation); the skipping contract gates as flags straight
        // off the parquet footers: an eighth-of-space window on EITHER
        // key alone must leave at least a quarter of the files skippable
        // — the property the linear form cannot give on the second key.
        import graft.catalog.{Catalog, ColumnDef, GraftTable}
        val cat = new Catalog(
          graft.QueryUtil.tempDir("graft-q159").toString)
        val t = GraftTable.create(s, cat, "li_z", Seq(
          ColumnDef("ok", "bigint"), ColumnDef("pk", "bigint"),
          ColumnDef("qty", "double")))
        val src = T(s, dir, "lineitem")
          .filter(col("l_orderkey") < 1600)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
            col("l_quantity").as("qty"))
        for (r <- 0 until 3)
          t.insert(src.filter(pmod(col("ok"), lit(3)) === r).repartition(3))
        t.compact(targetFiles = 16, clusterBy = Seq("ok", "pk"), zOrder = true)
        val conf = s.sessionState.newHadoopConf()
        def ranges(column: String): Seq[(Long, Long)] =
          t.meta.activeFiles(t.currentVersion).map { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new org.apache.hadoop.fs.Path(f), conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try {
              val st = scala.jdk.CollectionConverters
                .ListHasAsScala(r.getFooter.getBlocks).asScala
                .flatMap(b => scala.jdk.CollectionConverters
                  .ListHasAsScala(b.getColumns).asScala
                  .filter(_.getPath.toDotString == column).map(_.getStatistics))
              (st.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue()).min,
                st.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue()).max)
            } finally r.close()
          }
        def skippable(rs: Seq[(Long, Long)], lo: Long, hi: Long): Int =
          rs.count { case (mn, mx) => mx < lo || mn >= hi }
        val okR = ranges("ok"); val pkR = ranges("pk")
        val nf = okR.size
        val okPrunes = skippable(okR, 0L, 200L) * 4 >= nf
        val pkLo = pkR.map(_._1).min; val pkHi = pkR.map(_._2).max
        val pkPrunes =
          skippable(pkR, pkLo, pkLo + (pkHi - pkLo).max(8L) / 8) * 4 >= nf
        t.read()
          .filter(col("ok") >= 300 && col("ok") < 900)
          .agg(count(lit(1)).as("n"), round(sum(col("qty")), 2).as("qty_sum"))
          .withColumn("ok_prunes", lit(okPrunes))
          .withColumn("pk_prunes", lit(pkPrunes))
          .withColumn("files_ok", lit(nf <= 16))
          .select("n", "qty_sum", "ok_prunes", "pk_prunes", "files_ok")
      },
      Some("""SELECT count(*) AS n, round(sum(l_quantity), 2) AS qty_sum,
             |  TRUE AS ok_prunes, TRUE AS pk_prunes, TRUE AS files_ok
             |FROM lineitem
             |WHERE l_orderkey >= 300 AND l_orderkey < 900""".stripMargin),
    ),
    QueryDef(
      "q160_audio_codecs",
      (s, dir) => {
        // WAV codec breadth (G.711 mu-law/A-law, PCM-8, IMA ADPCM) in the
        // oracle gate: per doc, an 8-code byte sequence derived from
        // doc_id is wrapped as a mu-law / A-law / PCM-8 WAV container and
        // decoded through the library; the decoded sample sums are exact
        // integers DuckDB recomputes INDEPENDENTLY from the ITU
        // closed-form bit decompositions (u=255-c resp. a=c^0x55, then
        // seg/mantissa reconstruction with bit arithmetic). The lossy
        // ADPCM path round-trips a per-doc tone (frequency varies by
        // doc_id): the decoded sample count is an exact closed form (the
        // fact chunk + block math) and reconstruction quality rides as a
        // threshold flag over the deterministic integer codec.
        import graft.functions.Audio
        val codes = transform(sequence(lit(0), lit(7)),
          j => pmod(col("doc_id") * 8 + j, lit(256)).cast("int"))
        val freq = (col("doc_id") % 8 + 2).cast("double") * lit(100.0)
        T(s, dir, "documents")
          .filter(col("doc_id") < 32)
          .withColumn("codes", codes)
          .withColumn("tone", Audio.makeSineWav(lit(0.128), freq))
          .withColumn("adpcm", Audio.transcodeWav(col("tone"), lit("adpcm")))
          .select(
            col("doc_id"),
            Audio.sampleSum(Audio.makeCodedWav(col("codes"), lit("ulaw")))
              .as("ulaw_sum"),
            Audio.sampleSum(Audio.makeCodedWav(col("codes"), lit("alaw")))
              .as("alaw_sum"),
            Audio.sampleSum(Audio.makeCodedWav(col("codes"), lit("pcm8")))
              .as("pcm8_sum"),
            Audio.getMetadata(col("adpcm")).getField("_3").cast("long")
              .as("adpcm_n"),
            (Audio.pcmRmsDiff(col("tone"), col("adpcm")) < 1200.0)
              .as("adpcm_ok"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH codes AS (
             |  SELECT d.doc_id, ((d.doc_id * 8 + j.j) % 256) AS c
             |  FROM (SELECT doc_id FROM documents WHERE doc_id < 32) d
             |  CROSS JOIN generate_series(0, 7) j(j)
             |), g AS (
             |  SELECT doc_id, c, 255 - c AS u, xor(c, 85) AS a FROM codes
             |), dec AS (
             |  SELECT doc_id,
             |    CASE WHEN (u & 128) != 0
             |         THEN 132 - (((u & 15) * 8 + 132) * (1 << ((u & 112) // 16)))
             |         ELSE (((u & 15) * 8 + 132) * (1 << ((u & 112) // 16))) - 132
             |    END AS ulaw_v,
             |    CASE WHEN (a & 128) != 0 THEN al ELSE -al END AS alaw_v,
             |    (c - 128) * 256 AS pcm8_v
             |  FROM (SELECT doc_id, u, a, c,
             |          CASE WHEN (a & 112) = 0 THEN (a & 15) * 16 + 8
             |               ELSE ((a & 15) * 16 + 264)
             |                    * (1 << (((a & 112) // 16) - 1)) END AS al
             |        FROM g) t
             |)
             |SELECT doc_id, CAST(sum(ulaw_v) AS BIGINT) AS ulaw_sum,
             |  CAST(sum(alaw_v) AS BIGINT) AS alaw_sum,
             |  CAST(sum(pcm8_v) AS BIGINT) AS pcm8_sum,
             |  CAST(2048 AS BIGINT) AS adpcm_n, TRUE AS adpcm_ok
             |FROM dec GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q161_bloom_lookup",
      (s, dir) => {
        // Bloom-filter data skipping in the correctness gate: a lineitem
        // subset keyed by an md5 digest column (hash-like — every file's
        // min/max spans the full hex range, so footer ranges prune
        // NOTHING) is compacted with `bloomFilterCols`. The contract
        // flags read the bloom filters straight from the parquet footers:
        // present in every row group, no false negative on the probe
        // digest, and >= 95% of absent probes rejected per row group —
        // the property that turns a 100 TB point lookup on an unordered
        // digest into a row-group-skipping scan. The data panel is an
        // equality lookup DuckDB recomputes with its own md5().
        import graft.catalog.{Catalog, ColumnDef, GraftTable}
        val cat = new Catalog(
          graft.QueryUtil.tempDir("graft-q161").toString)
        val t = GraftTable.create(s, cat, "li_bloom", Seq(
          ColumnDef("k", "bigint"), ColumnDef("pk", "bigint"),
          ColumnDef("h", "string"), ColumnDef("qty", "double")))
        val src = T(s, dir, "lineitem")
          .filter(col("l_orderkey") < 1600)
          .select(col("l_orderkey").as("k"), col("l_partkey").as("pk"),
            md5(concat(col("l_orderkey").cast("string"), lit("-"),
              col("l_partkey").cast("string"))).as("h"),
            col("l_quantity").as("qty"))
        for (r <- 0 until 3)
          t.insert(src.filter(pmod(col("k"), lit(3)) === r).repartition(3))
        t.compact(targetFiles = 8, bloomFilterCols = Seq("h"),
          bloomFilterNdv = 4096)
        // footer bloom contract (driver-side METADATA reads, like q147)
        val conf = s.sessionState.newHadoopConf()
        val absent = (0 until 64).map(i => s"absent-$i")
        val probeRow = t.read().filter(col("k") >= 700)
          .agg(min(col("k"))).head.getLong(0)
        val probePk = t.read().filter(col("k") === probeRow)
          .agg(min(col("pk"))).head.getLong(0)
        val probeH = org.apache.commons.codec.digest.DigestUtils
          .md5Hex(s"$probeRow-$probePk")
        var groups = 0; var withBloom = 0; var absentHits = 0
        var probeFound = false
        t.meta.activeFiles(t.currentVersion).foreach { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try scala.jdk.CollectionConverters
            .ListHasAsScala(r.getFooter.getBlocks).asScala.foreach { b =>
              groups += 1
              val cc = scala.jdk.CollectionConverters
                .ListHasAsScala(b.getColumns).asScala
                .find(_.getPath.toDotString == "h").get
              Option(r.getBloomFilterDataReader(b).readBloomFilter(cc))
                .foreach { bf =>
                  withBloom += 1
                  def hit(v: String) = bf.findHash(bf.hash(
                    org.apache.parquet.io.api.Binary.fromString(v)))
                  absentHits += absent.count(hit)
                  if (hit(probeH)) probeFound = true
                }
            }
          finally r.close()
        }
        val bloomsPresent = groups > 0 && withBloom == groups
        val absentRejected = absentHits * 20 <= groups * absent.size
        t.read().filter(col("h") === probeH)
          .agg(count(lit(1)).as("n"), round(sum(col("qty")), 2).as("qty_sum"))
          .withColumn("blooms_present", lit(bloomsPresent))
          .withColumn("present_found", lit(probeFound))
          .withColumn("absent_rejected", lit(absentRejected))
          .select("n", "qty_sum", "blooms_present", "present_found",
            "absent_rejected")
      },
      Some("""WITH pr AS (
             |  SELECT min(l_orderkey) AS k FROM lineitem
             |  WHERE l_orderkey >= 700 AND l_orderkey < 1600
             |), prb AS (
             |  SELECT md5(CAST(pr.k AS VARCHAR) || '-' || CAST(
             |    (SELECT min(l_partkey) FROM lineitem
             |     WHERE l_orderkey = pr.k) AS VARCHAR)) AS h
             |  FROM pr
             |)
             |SELECT CAST(count(*) AS BIGINT) AS n,
             |  round(sum(l_quantity), 2) AS qty_sum,
             |  TRUE AS blooms_present, TRUE AS present_found,
             |  TRUE AS absent_rejected
             |FROM lineitem l, prb p
             |WHERE l.l_orderkey < 1600
             |  AND md5(CAST(l.l_orderkey AS VARCHAR) || '-'
             |          || CAST(l.l_partkey AS VARCHAR)) = p.h""".stripMargin),
    ),
    QueryDef(
      "q162_optimize_policy",
      (s, dir) => {
        // Persisted layout policy + size-targeted optimize() in the gate:
        // the policy (z-order on two keys + blooms on a digest column +
        // target FILE SIZE) is declared once, survives a catalog reload
        // (flag), and optimize() derives the file count from live data
        // volume — the scale-honest form of OPTIMIZE, where a fixed file
        // count cannot be right at both 60 k rows and 100 TB. The rewrite
        // must carry the whole policy: footer hyper-rectangles prune on
        // EITHER key, blooms present in every row group. Content panel
        // recomputed by DuckDB from the raw table.
        import graft.catalog.{Catalog, ColumnDef, GraftTable, LayoutPolicy}
        val cat = new Catalog(
          graft.QueryUtil.tempDir("graft-q162").toString)
        val t0 = GraftTable.create(s, cat, "li_opt", Seq(
          ColumnDef("ok", "bigint"), ColumnDef("pk", "bigint"),
          ColumnDef("h", "string"), ColumnDef("qty", "double")))
        val src = T(s, dir, "lineitem")
          .filter(col("l_orderkey") < 1600)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
            // near-unique digest: dictionary encoding falls back to plain,
            // so parquet writes real blooms (a fully-dictionary chunk gets
            // none — the dictionary is already an exact filter there)
            md5(concat(col("l_orderkey").cast("string"), lit("-"),
              col("l_partkey").cast("string"))).as("h"),
            col("l_quantity").as("qty"))
        for (r <- 0 until 3)
          t0.insert(src.filter(pmod(col("ok"), lit(3)) === r).repartition(3))
        val policy = LayoutPolicy(clusterBy = Seq("ok", "pk"), zOrder = true,
          bloomFilterCols = Seq("h"), bloomFilterNdv = 4096,
          targetFileBytes = 24 * 1024)
        t0.setLayoutPolicy(policy)
        val t = GraftTable.open(s, cat, "li_opt") // policy via persisted meta
        val policyRoundtrip = t.layoutPolicy.contains(policy)
        val preBytes = t.meta.activeFiles(t.currentVersion).map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(s.sessionState.newHadoopConf())
            .getFileStatus(p).getLen
        }.sum
        val expect = math.max(1L, (preBytes + 24 * 1024 - 1) / (24 * 1024))
        t.optimize()
        val files = t.meta.activeFiles(t.currentVersion)
        val filesSized = files.size >= 2 && files.size <= expect * 2
        val conf = s.sessionState.newHadoopConf()
        var groups = 0; var withBloom = 0
        def ranges(column: String): Seq[(Long, Long)] = files.map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val blocks = scala.jdk.CollectionConverters
              .ListHasAsScala(r.getFooter.getBlocks).asScala
            if (column == "h") blocks.foreach { b =>
              groups += 1
              val cc = scala.jdk.CollectionConverters
                .ListHasAsScala(b.getColumns).asScala
                .find(_.getPath.toDotString == "h").get
              if (r.getBloomFilterDataReader(b).readBloomFilter(cc) != null)
                withBloom += 1
            }
            val st = blocks.flatMap(b => scala.jdk.CollectionConverters
              .ListHasAsScala(b.getColumns).asScala
              .filter(_.getPath.toDotString == column).map(_.getStatistics))
            if (column == "h") (0L, 0L)
            else (st.map(_.genericGetMin.asInstanceOf[java.lang.Long]
              .longValue()).min,
              st.map(_.genericGetMax.asInstanceOf[java.lang.Long]
                .longValue()).max)
          } finally r.close()
        }
        def skippable(rs: Seq[(Long, Long)], lo: Long, hi: Long): Int =
          rs.count { case (mn, mx) => mx < lo || mn >= hi }
        val okR = ranges("ok"); val pkR = ranges("pk"); ranges("h")
        val nf = files.size
        val okPrunes = skippable(okR, 0L, 200L) * 4 >= nf
        val pkLo = pkR.map(_._1).min; val pkHi = pkR.map(_._2).max
        val pkPrunes =
          skippable(pkR, pkLo, pkLo + (pkHi - pkLo).max(8L) / 8) * 4 >= nf
        val bloomsPresent = groups > 0 && withBloom == groups
        t.read()
          .filter(col("ok") >= 300 && col("ok") < 900)
          .agg(count(lit(1)).as("n"), round(sum(col("qty")), 2).as("qty_sum"))
          .withColumn("policy_roundtrip", lit(policyRoundtrip))
          .withColumn("files_sized", lit(filesSized))
          .withColumn("ok_prunes", lit(okPrunes))
          .withColumn("pk_prunes", lit(pkPrunes))
          .withColumn("blooms_present", lit(bloomsPresent))
          .select("n", "qty_sum", "policy_roundtrip", "files_sized",
            "ok_prunes", "pk_prunes", "blooms_present")
      },
      Some("""SELECT count(*) AS n, round(sum(l_quantity), 2) AS qty_sum,
             |  TRUE AS policy_roundtrip, TRUE AS files_sized,
             |  TRUE AS ok_prunes, TRUE AS pk_prunes, TRUE AS blooms_present
             |FROM lineitem
             |WHERE l_orderkey >= 300 AND l_orderkey < 900""".stripMargin),
    ),
    QueryDef(
      "q163_string_cluster",
      (s, dir) => {
        // STRING z-order clustering in the gate — the 100 TB curation
        // layout (cluster by source/domain + id): documents' source
        // column buckets via order-preserving sampled cuts, interleaves
        // with the doc_id rank, and the footer min/max on the STRING
        // column becomes selective. Flags straight off the parquet
        // footers: a 2-of-20-sources window AND an eighth-of-space id
        // window must each leave at least a quarter of the files
        // skippable. Panel: the source-window aggregate recomputed by
        // DuckDB from the raw table.
        import graft.catalog.{Catalog, ColumnDef, GraftTable}
        val cat = new Catalog(
          graft.QueryUtil.tempDir("graft-q163").toString)
        val t = GraftTable.create(s, cat, "doc_sc", Seq(
          ColumnDef("src", "string"), ColumnDef("id", "bigint"),
          ColumnDef("nch", "bigint")))
        val src = T(s, dir, "documents")
          .filter(col("doc_id") < 480)
          .select(col("source").as("src"), col("doc_id").as("id"),
            col("n_chars").as("nch"))
        for (r <- 0 until 3)
          t.insert(src.filter(pmod(col("id"), lit(3)) === r).repartition(3))
        t.compact(targetFiles = 12, clusterBy = Seq("src", "id"),
          zOrder = true)
        val conf = s.sessionState.newHadoopConf()
        val files = t.meta.activeFiles(t.currentVersion)
        def stats(column: String): Seq[(Comparable[Any], Comparable[Any])] =
          files.map { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new org.apache.hadoop.fs.Path(f), conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try {
              val st = scala.jdk.CollectionConverters
                .ListHasAsScala(r.getFooter.getBlocks).asScala
                .flatMap(b => scala.jdk.CollectionConverters
                  .ListHasAsScala(b.getColumns).asScala
                  .filter(_.getPath.toDotString == column)
                  .map(_.getStatistics))
              (st.map(_.genericGetMin.asInstanceOf[Comparable[Any]]).min,
                st.map(_.genericGetMax.asInstanceOf[Comparable[Any]]).max)
            } finally r.close()
          }
        val nf = files.size
        val srcR = stats("src").map { case (mn, mx) =>
          (mn.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8,
            mx.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
        }
        val srcPrunes = srcR.count { case (mn, mx) =>
          mx < "src3" || mn >= "src5"
        } * 4 >= nf
        val idR = stats("id").map { case (mn, mx) =>
          (mn.asInstanceOf[java.lang.Long].longValue(),
            mx.asInstanceOf[java.lang.Long].longValue())
        }
        val idPrunes = idR.count { case (mn, mx) =>
          mx < 0L || mn >= 60L
        } * 4 >= nf
        t.read()
          .filter(col("src") >= "src3" && col("src") < "src5")
          .agg(count(lit(1)).as("n"),
            sum(col("nch")).cast("long").as("nch_sum"))
          .withColumn("src_prunes", lit(srcPrunes))
          .withColumn("id_prunes", lit(idPrunes))
          .withColumn("files_ok", lit(nf <= 12))
          .select("n", "nch_sum", "src_prunes", "id_prunes", "files_ok")
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(n_chars) AS BIGINT) AS nch_sum,
             |  TRUE AS src_prunes, TRUE AS id_prunes, TRUE AS files_ok
             |FROM documents
             |WHERE doc_id < 480 AND source >= 'src3' AND source < 'src5'
             |""".stripMargin),
    ),
    QueryDef(
      "q164_flac_roundtrip",
      (s, dir) => {
        // Pure-JVM FLAC (the lossless format ASR corpora actually ship)
        // in the oracle gate: per doc, a deterministic integer sawtooth
        // WAV transcodes to FLAC and decodes back through the shared
        // audio surface. Losslessness makes the gate exact — the decoded
        // sample count and sum are closed forms DuckDB recomputes with
        // integer arithmetic over generate_series; the lossless flag is
        // a zero rms difference (not a threshold), and the compressed
        // flag proves rice coding actually engaged.
        import graft.functions.Audio
        val n = (lit(2048) + pmod(col("doc_id"), lit(4)) * 512).cast("int")
        T(s, dir, "documents")
          .filter(col("doc_id") < 24)
          .withColumn("wav", Audio.makeSawWav(n, lit(193),
            (col("doc_id") * 7).cast("int")))
          .withColumn("flac", Audio.transcodeWav(col("wav"), lit("flac")))
          .select(
            col("doc_id"),
            Audio.getMetadata(col("flac")).getField("_3").cast("long").as("n"),
            Audio.sampleSum(col("flac")).as("s_sum"),
            (Audio.pcmRmsDiff(col("wav"), col("flac")) === 0.0).as("lossless"),
            (length(col("flac")) < length(col("wav"))).as("compressed"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT d.doc_id, CAST(d.n AS BIGINT) AS n,
             |  CAST(sum(((j.j * 193 + d.doc_id * 7) % 8191) - 4095) AS BIGINT)
             |    AS s_sum,
             |  TRUE AS lossless, TRUE AS compressed
             |FROM (SELECT doc_id, 2048 + (doc_id % 4) * 512 AS n
             |      FROM documents WHERE doc_id < 24) d
             |JOIN generate_series(0, 3583) j(j) ON j.j < d.n
             |GROUP BY d.doc_id, d.n
             |ORDER BY d.doc_id""".stripMargin),
    ),
    QueryDef(
      "q165_office_chunks",
      (s, dir) => {
        // Office documents (reference utils/documents.py:60-64 — DOCX/
        // PPTX/XLSX convert to markdown and ride the markdown chunking
        // pipeline) in the oracle gate: per doc, a DOCX with a parametric
        // heading tree (1 + (doc_id%3 + 1) sections) synthesizes
        // in-query, converts via Office.toMarkdown, and chunks through
        // the SAME headingChunks as any .md document; a PPTX with
        // doc_id%3 + 2 slides cross-checks the slide→heading path. Every
        // emitted chunk (text, title, open h2) is a string closed form
        // DuckDB recomposes with concatenation.
        import graft.functions.{Iterators, Office}
        val id = col("doc_id").cast("string")
        val m = pmod(col("doc_id"), lit(3)).cast("int")
        val paras = concat(
          array(concat(lit("1:Doc "), id), concat(lit("0:intro "), id)),
          flatten(transform(sequence(lit(0), m), j => array(
            concat(lit("2:Part "), j.cast("string")),
            concat(lit("0:body "), id, lit(" "), j.cast("string"))))))
        val slides = transform(sequence(lit(0), m + 1), i =>
          concat(lit("S"), i.cast("string"), lit(":line "), id,
            lit(" "), i.cast("string")))
        T(s, dir, "documents")
          .filter(col("doc_id") < 24)
          .withColumn("docx", Office.makeDocx(paras))
          .withColumn("pptx_chunks", size(Iterators.headingChunks(
            Office.officeToMarkdown(Office.makePptx(slides)))))
          .select(col("doc_id"), col("pptx_chunks"),
            posexplode(Iterators.headingChunks(
              Office.officeToMarkdown(col("docx")))))
          .select(col("doc_id"), col("pos").cast("long").as("idx"),
            col("col.title").as("title"),
            col("col.heading").getItem("h2").as("h2"),
            col("col.text").as("text"), col("pptx_chunks"))
          .transform(graft.QueryUtil.orderedSmall(_,
            col("doc_id"), col("idx")))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, doc_id % 3 AS m FROM documents
             |  WHERE doc_id < 24
             |)
             |SELECT d.doc_id, CAST(j.j AS BIGINT) AS idx,
             |  'Doc ' || CAST(d.doc_id AS VARCHAR) AS title,
             |  CASE WHEN j.j = 0 THEN NULL
             |       ELSE 'Part ' || CAST(j.j - 1 AS VARCHAR) END AS h2,
             |  CASE WHEN j.j = 0 THEN 'intro ' || CAST(d.doc_id AS VARCHAR)
             |       ELSE 'body ' || CAST(d.doc_id AS VARCHAR) || ' '
             |            || CAST(j.j - 1 AS VARCHAR) END AS text,
             |  CAST(d.m + 2 AS INT) AS pptx_chunks
             |FROM d JOIN generate_series(0, 3) j(j) ON j.j <= d.m + 1
             |ORDER BY doc_id, idx""".stripMargin),
    ),
    QueryDef(
      "q166_compressed_docs",
      (s, dir) => {
        // Compressed document payloads (real corpora ship gzip/zstd
        // binary documents inside parquet): each document's text
        // compresses per-cell, and the content-sniffed documentToText
        // dispatch decompresses transparently before format routing.
        // Flags assert exact round-trip equality per codec; the panel
        // (count + n_chars sum) is recomputed by DuckDB from the raw
        // table, proving the pipeline loses nothing.
        import graft.functions.{Compress, Office}
        T(s, dir, "documents")
          .filter(col("doc_id") < 48)
          .withColumn("raw", encode(col("text"), "UTF-8"))
          .select(col("doc_id"), col("n_chars").cast("long").as("nch"),
            (Office.documentText(Compress.gzipCompress(col("raw")))
              === col("text")).as("gz_ok"),
            (Office.documentText(Compress.zstdCompress(col("raw"), lit(3)))
              === col("text")).as("zs_ok"),
            (Office.documentText(Compress.lz4Compress(col("raw")))
              === col("text")).as("lz4_ok"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id, CAST(n_chars AS BIGINT) AS nch,
             |  TRUE AS gz_ok, TRUE AS zs_ok, TRUE AS lz4_ok
             |FROM documents WHERE doc_id < 48
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q167_mp4_container",
      (s, dir) => {
        // ISO-BMFF (MP4) demux in the oracle gate (reference media
        // iterators open MP4 via pyav — `functions/video/iterators.py:
        // 41-123`): per doc, (1) an MJPEG+PCM MP4 muxed from closed-form
        // fixtures round-trips through the sniffed video surface —
        // header-only metadata, bit-exact frame payloads, sample-exact
        // PCM extraction; (2) an MPEG1-L3 stream's frame walk yields
        // exact frame/sample counts and the side-info global_gain
        // loudness profile segments it without PCM decode. Every output
        // is a closed form of doc_id the oracle recomputes in SQL.
        import graft.functions.{Audio, Avi, Mp3, Mp4, Video}
        val mkMp4 = udf { (n: Int, nSamples: Int) =>
          val frames = Avi.readFrames(Video.makeTestVideo(n, 16, 12, 0x336699, 10))
          val samples = Array.tabulate(nSamples)(i => (i % 100).toShort)
          Mp4.write(frames, 16, 12, 10, Some((samples, 8000)))
        }
        val framesOk = udf { (v: Array[Byte], n: Int) =>
          val fs = Mp4.readFrames(v)
          val src = Avi.readFrames(Video.makeTestVideo(n, 16, 12, 0x336699, 10))
          fs.length == n && fs.zip(src).forall(p => p._1.sameElements(p._2))
        }
        val mkMp3 = udf { (a: Int) =>
          Mp3.writeTestStream(Seq.fill(a)(200) ++ Seq.fill(3)(5) ++
            Seq.fill(4)(200))
        }
        val n = (col("doc_id") % 5 + 2).cast("int")  // 2..6 frames
        val ns = ((col("doc_id") % 4 + 1) * 800).cast("int") // PCM samples
        val a = (col("doc_id") % 3 + 3).cast("int")  // first loud run
        val dt = lit(1152.0 / 44100)                 // seconds per L3 frame
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("v", mkMp4(n, ns))
          .withColumn("m", Video.getMetadata(col("v")))
          .withColumn("es", mkMp3(a))
          .withColumn("mm", Audio.mp3Metadata(col("es")))
          .withColumn("segs", Audio.mp3LoudSegments(col("es"), lit(50.0), lit(3)))
          .select(col("doc_id"),
            col("m.width").as("w"), col("m.height").as("h"),
            col("m.fps").as("fps"), col("m.frames").as("n_frames"),
            col("m.duration_s").as("dur_s"),
            col("m.codec").as("codec"), col("m.format").as("format"),
            framesOk(col("v"), n).as("frames_ok"),
            Audio.sampleSum(Video.extractAudio(col("v"))).as("pcm_sum"),
            col("mm.frames").as("mp3_frames"),
            col("mm.samples").as("mp3_samples"),
            col("mm.vbr").as("mp3_vbr"),
            size(col("segs")).cast("long").as("seg_count"),
            round(element_at(col("segs"), 1)("_2") / dt)
              .cast("long").as("seg0_frames"),
            round(element_at(col("segs"), 2)("_1") / dt)
              .cast("long").as("seg1_start"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id, 16 AS w, 12 AS h, 10.0::DOUBLE AS fps,
             |  (doc_id % 5 + 2)::INT AS n_frames,
             |  (doc_id % 5 + 2)::DOUBLE / 10.0::DOUBLE AS dur_s,
             |  'JPEG' AS codec, 'MP4' AS format, TRUE AS frames_ok,
             |  (4950 * (doc_id % 4 + 1) * 8)::BIGINT AS pcm_sum,
             |  (doc_id % 3 + 10)::INT AS mp3_frames,
             |  ((doc_id % 3 + 10) * 1152)::BIGINT AS mp3_samples,
             |  FALSE AS mp3_vbr, 2::BIGINT AS seg_count,
             |  (doc_id % 3 + 3)::BIGINT AS seg0_frames,
             |  (doc_id % 3 + 6)::BIGINT AS seg1_start
             |FROM documents WHERE doc_id < 40
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q169_webp_pipeline",
      (s, dir) => {
        // WebP (VP8L lossless) in the oracle gate: per doc, an id-derived
        // solid PNG re-encodes to WebP through the codec sink, the sniff
        // reports 'webp', and the EXISTING image pipeline decodes it
        // (dimensions, alpha mode, exact pixel channels) — lossless makes
        // every output a closed form of doc_id. px_ok pins pixel-level
        // equality between the PNG and WebP decodes of the same image.
        import graft.functions.{Codecs, Images}
        val w0 = (col("doc_id") % 12 + 5).cast("int")
        val h0 = (col("doc_id") % 7 + 4).cast("int")
        val rgb = (col("doc_id") * 2000 % 0xffffff).cast("int")
        T(s, dir, "documents")
          .filter(col("doc_id") < 50)
          .withColumn("png", Images.makeSolidPng(w0, h0, rgb))
          .withColumn("webp", Codecs.reencode(col("png"), "webp"))
          .withColumn("meta", Images.getMetadata(col("webp")))
          .select(col("doc_id"),
            Codecs.imageFormat(col("webp")).as("fmt"),
            col("meta._1").cast("long").as("w"),
            col("meta._2").cast("long").as("h"),
            col("meta._3").as("mode"),
            Images.getPixel(col("webp"), lit(0), lit(0))
              .getItem(0).cast("long").as("r0"),
            Images.getPixel(col("webp"), w0 - 1, h0 - 1)
              .getItem(2).cast("long").as("b_last"),
            (Images.getPixel(col("webp"), lit(0), lit(0))
              === Images.getPixel(col("png"), lit(0), lit(0))).as("px_ok"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id, 'webp' AS fmt,
             |  (doc_id % 12 + 5)::BIGINT AS w,
             |  (doc_id % 7 + 4)::BIGINT AS h,
             |  'RGBA' AS mode,
             |  ((doc_id * 2000 % 16777215) // 65536)::BIGINT AS r0,
             |  ((doc_id * 2000 % 16777215) % 256)::BIGINT AS b_last,
             |  TRUE AS px_ok
             |FROM documents WHERE doc_id < 50
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q170_fmp4_container",
      (s, dir) => {
        // Fragmented MP4 (CMAF `moov(mvex) | (moof mdat)*`) in the oracle
        // gate: per doc, the q167 flat fixture re-muxes through the
        // `toFmp4` sink at an id-derived fragment size, and the SAME
        // sniffed surface reads it back — layout fingerprint (moof
        // count), header-only metadata, bit-exact frame payloads, and
        // sample-exact PCM re-assembled across fragment boundaries.
        // Every output is a closed form of doc_id.
        import graft.functions.{Audio, Avi, Mp4, Video}
        val mkMp4 = udf { (n: Int, nSamples: Int) =>
          val frames = Avi.readFrames(Video.makeTestVideo(n, 16, 12, 0x336699, 10))
          val samples = Array.tabulate(nSamples)(i => (i % 100).toShort)
          Mp4.write(frames, 16, 12, 10, Some((samples, 8000)))
        }
        val framesOk = udf { (v: Array[Byte], n: Int) =>
          val fs = Mp4.readFrames(v)
          val src = Avi.readFrames(Video.makeTestVideo(n, 16, 12, 0x336699, 10))
          fs.length == n && fs.zip(src).forall(p => p._1.sameElements(p._2))
        }
        val nMoofs = udf { (v: Array[Byte]) =>
          Mp4.topLevelBoxTypes(v).count(_ == "moof")
        }
        val n = (col("doc_id") % 5 + 2).cast("int")  // 2..6 frames
        val ns = ((col("doc_id") % 4 + 1) * 800).cast("int") // PCM samples
        val fpf = (col("doc_id") % 3 + 1).cast("int") // frames/fragment
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("v", Video.toFmp4(mkMp4(n, ns), fpf))
          .withColumn("m", Video.getMetadata(col("v")))
          .select(col("doc_id"),
            nMoofs(col("v")).cast("long").as("n_frags"),
            col("m.width").as("w"), col("m.height").as("h"),
            col("m.fps").as("fps"), col("m.frames").as("n_frames"),
            col("m.duration_s").as("dur_s"),
            col("m.codec").as("codec"), col("m.format").as("format"),
            framesOk(col("v"), n).as("frames_ok"),
            Audio.sampleSum(Video.extractAudio(col("v"))).as("pcm_sum"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id,
             |  ((doc_id % 5 + 2 + doc_id % 3) // (doc_id % 3 + 1))::BIGINT
             |    AS n_frags,
             |  16 AS w, 12 AS h, 10.0::DOUBLE AS fps,
             |  (doc_id % 5 + 2)::INT AS n_frames,
             |  (doc_id % 5 + 2)::DOUBLE / 10.0::DOUBLE AS dur_s,
             |  'JPEG' AS codec, 'MP4' AS format, TRUE AS frames_ok,
             |  (4950 * (doc_id % 4 + 1) * 8)::BIGINT AS pcm_sum
             |FROM documents WHERE doc_id < 40
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q171_subtitles",
      (s, dir) => {
        // SRT/WebVTT in the oracle gate (reference transcription
        // response formats — `functions/openai.py:326-364`): per doc,
        // id-derived word timings over the doc's own tokens format to a
        // FULL SRT document the oracle rebuilds byte-for-byte in SQL
        // (clock arithmetic is integer-exact: word i spans
        // [i*250 ms, i*250+200 ms]); the VTT twin is length-checked, the
        // tolerant parser round-trips the cues, and markup stripping is
        // pinned on a decorated cue.
        import graft.functions.Subtitles
        val k = (col("doc_id") % 6 + 4).cast("int") // 4..9 cues
        T(s, dir, "documents")
          .filter(col("doc_id") < 50)
          .withColumn("toks",
            slice(split(trim(col("text")), "\\s+"), lit(1), k))
          .withColumn("cues", expr(
            """transform(sequence(0, size(toks) - 1),
              |  i -> struct(cast(i * 0.25 as double) as start,
              |              cast(i * 0.25 + 0.2 as double) as end,
              |              element_at(toks, i + 1) as text))""".stripMargin))
          .withColumn("srt", Subtitles.toSrt(col("cues")))
          .withColumn("vtt", Subtitles.toVtt(col("cues")))
          .withColumn("parsed", Subtitles.parseCues(col("srt")))
          .select(col("doc_id"),
            size(col("cues")).cast("long").as("n_cues"),
            col("srt"),
            length(col("vtt")).cast("long").as("vtt_len"),
            expr("""transform(parsed,
                   |  p -> named_struct('s', p.start, 'e', p.end,
                   |                    't', p.text)) =
                   |transform(cues,
                   |  c -> named_struct('s', c.start, 'e', c.end,
                   |                    't', c.text))""".stripMargin)
              .as("rt_ok"),
            (Subtitles.cleanText(
              concat(lit("<i>"), element_at(col("toks"), 1), lit("</i>")))
              === element_at(col("toks"), 1)).as("clean_ok"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH cues AS (
             |  SELECT doc_id,
             |    list_slice(string_split_regex(trim(text), '\s+'),
             |      1, doc_id % 6 + 4) AS toks
             |  FROM documents WHERE doc_id < 50
             |), built AS (
             |  SELECT doc_id, len(toks) AS n_cues,
             |    list_transform(range(0, len(toks)), i ->
             |      printf('%d', i + 1) || chr(10) ||
             |      printf('%02d:%02d:%02d,%03d --> %02d:%02d:%02d,%03d',
             |        (i*250) // 3600000, ((i*250) // 60000) % 60,
             |        ((i*250) // 1000) % 60, (i*250) % 1000,
             |        (i*250+200) // 3600000, ((i*250+200) // 60000) % 60,
             |        ((i*250+200) // 1000) % 60, (i*250+200) % 1000) ||
             |      chr(10) || toks[i + 1]) AS blocks,
             |    list_transform(range(0, len(toks)), i ->
             |      printf('%02d:%02d:%02d.%03d --> %02d:%02d:%02d.%03d',
             |        (i*250) // 3600000, ((i*250) // 60000) % 60,
             |        ((i*250) // 1000) % 60, (i*250) % 1000,
             |        (i*250+200) // 3600000, ((i*250+200) // 60000) % 60,
             |        ((i*250+200) // 1000) % 60, (i*250+200) % 1000) ||
             |      chr(10) || toks[i + 1]) AS vblocks
             |  FROM cues
             |)
             |SELECT doc_id, n_cues::BIGINT AS n_cues,
             |  list_aggregate(blocks, 'string_agg', chr(10) || chr(10))
             |    || chr(10) AS srt,
             |  length('WEBVTT' || chr(10) || chr(10) ||
             |    list_aggregate(vblocks, 'string_agg', chr(10) || chr(10))
             |    || chr(10))::BIGINT AS vtt_len,
             |  TRUE AS rt_ok, TRUE AS clean_ok
             |FROM built ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q172_media_tags",
      (s, dir) => {
        // Media tags in the oracle gate (the ffprobe-format-tags dict
        // the reference's get_metadata surfaces): per doc, an MP4 muxed
        // with iTunes-style `udta/meta/ilst` atoms and an MP3 with an
        // ID3v2.3 tag — both derived from the doc's own tokens — read
        // back through the content-sniffed `mediaTags` surface; tag
        // presence does not disturb demux (frame counts still parse).
        import graft.functions.{Audio, Avi, Mp3, Mp4, Video}
        val mkMp4Tagged = udf { (title: String, artist: String, trk: Int) =>
          val frames = Avi.readFrames(Video.makeTestVideo(1, 16, 12, 0x336699, 10))
          Mp4.write(frames, 16, 12, 10, tags = Seq(
            "title" -> title, "artist" -> artist, "track" -> s"$trk/12"))
        }
        val mkMp3Tagged = udf { (title: String, album: String, nf: Int) =>
          Mp3.writeId3v2(Seq("title" -> title, "album" -> album)) ++
            Mp3.writeTestStream(Seq.fill(nf)(100))
        }
        val nMp3Frames = udf { (b: Array[Byte]) => Mp3.frames(b).length }
        val toks = split(trim(col("text")), "\\s+")
        val trk = (col("doc_id") % 9 + 1).cast("int")
        val nf = (col("doc_id") % 4 + 1).cast("int")
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("v", mkMp4Tagged(
            element_at(toks, 1), element_at(toks, 2), trk))
          .withColumn("a", mkMp3Tagged(
            element_at(toks, 3), element_at(toks, 4), nf))
          .withColumn("vt", Audio.mediaTags(col("v")))
          .withColumn("at", Audio.mediaTags(col("a")))
          .select(col("doc_id"),
            element_at(col("vt"), "title").as("mp4_title"),
            element_at(col("vt"), "artist").as("mp4_artist"),
            element_at(col("vt"), "track").as("mp4_track"),
            element_at(col("at"), "title").as("mp3_title"),
            element_at(col("at"), "album").as("mp3_album"),
            nMp3Frames(col("a")).cast("long").as("mp3_frames"),
            Video.frameCount(col("v")).cast("long").as("mp4_frames"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id,
             |  toks[1] AS mp4_title, toks[2] AS mp4_artist,
             |  printf('%d/12', doc_id % 9 + 1) AS mp4_track,
             |  toks[3] AS mp3_title, toks[4] AS mp3_album,
             |  (doc_id % 4 + 1)::BIGINT AS mp3_frames,
             |  1::BIGINT AS mp4_frames
             |FROM (SELECT doc_id,
             |        string_split_regex(trim(text), '\s+') AS toks
             |      FROM documents WHERE doc_id < 40)
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q173_container_meta",
      (s, dir) => {
        // get_metadata parity (reference `functions/util.py:40-110`
        // ContainerMetadata/StreamMetadata): per doc, the sniffed
        // containerMetadata struct over an MP4 (tagged, video+audio), a
        // WAV and an MP3 — per-stream type/codec/geometry/frame counts
        // and the container tag dict, all closed forms of doc_id.
        import graft.functions.{Audio, Avi, Mp3, Mp4, Multimedia, Video}
        val mkMp4 = udf { (n: Int, nSamples: Int, title: String) =>
          val frames = Avi.readFrames(Video.makeTestVideo(n, 16, 12, 0x336699, 10))
          val samples = Array.tabulate(nSamples)(i => (i % 100).toShort)
          Mp4.write(frames, 16, 12, 10, Some((samples, 8000)),
            tags = Seq("title" -> title))
        }
        val mkWav = udf { (n: Int) =>
          Audio.encodeWav(Array.tabulate(n)(i => (i % 40).toShort), 1000f)
        }
        val mkMp3 = udf { (nf: Int) => Mp3.writeTestStream(Seq.fill(nf)(100)) }
        val n = (col("doc_id") % 5 + 2).cast("int")
        val ns = ((col("doc_id") % 4 + 1) * 800).cast("int")
        val nw = ((col("doc_id") % 4 + 1) * 500).cast("int")
        val nf = (col("doc_id") % 3 + 2).cast("int")
        val toks = split(trim(col("text")), "\\s+")
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("vm", Multimedia.containerMetadata(
            mkMp4(n, ns, element_at(toks, 1))))
          .withColumn("wm", Multimedia.containerMetadata(mkWav(nw)))
          .withColumn("am", Multimedia.containerMetadata(mkMp3(nf)))
          .select(col("doc_id"),
            col("vm.format").as("mp4_fmt"),
            size(col("vm.streams")).cast("long").as("mp4_n_streams"),
            col("vm.streams")(0)("type").as("s0_type"),
            col("vm.streams")(0)("frames").cast("long").as("v_frames"),
            col("vm.streams")(0)("width").cast("long").as("v_w"),
            col("vm.streams")(0)("average_rate").as("v_rate"),
            col("vm.streams")(0)("duration_seconds").as("v_dur"),
            col("vm.streams")(1)("frames").cast("long").as("a_frames"),
            col("vm.streams")(1)("codec_context")("sample_rate")
              .cast("long").as("a_rate"),
            element_at(col("vm.metadata"), "title").as("mp4_title"),
            col("wm.streams")(0)("codec_context")("name").as("wav_codec"),
            col("wm.streams")(0)("frames").cast("long").as("wav_frames"),
            col("wm.streams")(0)("duration_seconds").as("wav_dur"),
            col("am.streams")(0)("codec_context")("name").as("mp3_codec"),
            col("am.streams")(0)("frames").cast("long").as("mp3_frames"),
            col("am.streams")(0)("duration").cast("long").as("mp3_samples"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id, 'MP4' AS mp4_fmt, 2::BIGINT AS mp4_n_streams,
             |  'video' AS s0_type,
             |  (doc_id % 5 + 2)::BIGINT AS v_frames, 16::BIGINT AS v_w,
             |  10.0::DOUBLE AS v_rate,
             |  (doc_id % 5 + 2)::DOUBLE / 10.0 AS v_dur,
             |  ((doc_id % 4 + 1) * 800)::BIGINT AS a_frames,
             |  8000::BIGINT AS a_rate,
             |  list_extract(string_split_regex(trim(text), '\s+'), 1)
             |    AS mp4_title,
             |  'pcm_s16le' AS wav_codec,
             |  ((doc_id % 4 + 1) * 500)::BIGINT AS wav_frames,
             |  ((doc_id % 4 + 1) * 500)::DOUBLE / 1000.0 AS wav_dur,
             |  'mp3_l3' AS mp3_codec, (doc_id % 3 + 2)::BIGINT AS mp3_frames,
             |  ((doc_id % 3 + 2) * 1152)::BIGINT AS mp3_samples
             |FROM documents WHERE doc_id < 40
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q174_mp4_subtitles",
      (s, dir) => {
        // WebVTT-in-MP4 subtitle tracks (ISO 14496-30) in the oracle
        // gate: per doc, id-derived cues over the doc's own tokens mux
        // into an MP4 text track alongside the video, extract back
        // through the sniffed surface, and flow into the caption
        // pipeline (markup-free transcript). Cue clocks sit on a ms
        // grid, so every output is a closed form the oracle recomputes.
        import graft.functions.{Multimedia, Subtitles, Video}
        val k = (col("doc_id") % 6 + 4).cast("int") // 4..9 cues
        val toks = split(trim(col("text")), "\\s+")
        T(s, dir, "documents")
          .filter(col("doc_id") < 50)
          .withColumn("toks", slice(toks, lit(1), k))
          .withColumn("cues", expr(
            """transform(sequence(0, size(toks) - 1),
              |  i -> struct(cast(i * 0.25 as double) as start,
              |              cast(i * 0.25 + 0.2 as double) as end,
              |              element_at(toks, i + 1) as text))""".stripMargin))
          .withColumn("v", Video.muxSubtitles(
            Video.makeTestVideoUdf(lit(2), lit(16), lit(12),
              lit(0x336699), lit(4)), col("cues")))
          .withColumn("back", Video.extractSubtitles(col("v")))
          .withColumn("cm", Multimedia.containerMetadata(col("v")))
          .select(col("doc_id"),
            size(col("back")).cast("long").as("n_cues"),
            element_at(col("back"), 1)("_3").as("first_text"),
            round(element_at(col("back"), -1)("_2") * 1000)
              .cast("long").as("last_end_ms"),
            expr("""transform(back,
                   |  b -> named_struct('s', round(b._1 * 1000),
                   |                    'e', round(b._2 * 1000),
                   |                    't', b._3)) =
                   |transform(cues,
                   |  c -> named_struct('s', round(c.start * 1000),
                   |                    'e', round(c.end * 1000),
                   |                    't', c.text))""".stripMargin)
              .as("rt_ok"),
            col("cm.streams")(1)("type").as("s1_type"),
            col("cm.streams")(1)("codec_context")("name").as("s1_codec"),
            col("cm.streams")(0)("frames").cast("long").as("v_frames"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH c AS (
             |  SELECT doc_id,
             |    list_slice(string_split_regex(trim(text), '\s+'),
             |      1, doc_id % 6 + 4) AS toks
             |  FROM documents WHERE doc_id < 50)
             |SELECT doc_id, len(toks)::BIGINT AS n_cues,
             |  toks[1] AS first_text,
             |  ((len(toks) - 1) * 250 + 200)::BIGINT AS last_end_ms,
             |  TRUE AS rt_ok, 'subtitle' AS s1_type,
             |  'webvtt' AS s1_codec, 2::BIGINT AS v_frames
             |FROM c ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q175_clip_streams",
      (s, dir) => {
        // Stream-preserving clip in the oracle gate (the reference clips
        // with stream COPY — `utils/av.py:289`): per doc, an MP4 with
        // video+PCM+subtitles clips to [0.5 s, 1.75 s); the clip keeps
        // the frame range, the sample-exact audio slice, and the cue set
        // intersected + re-based to zero — every output a closed form.
        import graft.functions.{Audio, Avi, Mp4, Video}
        val k = (col("doc_id") % 6 + 4).cast("int")
        val toks = split(trim(col("text")), "\\s+")
        val mkFull = udf { (k: Int, words: Seq[String]) =>
          val frames = Avi.readFrames(Video.makeTestVideo(4, 16, 12, 0x336699, 2))
          val samples = Array.tabulate(1600)(i => (i % 100).toShort)
          val cues = (0 until math.min(k, words.length)).map(i =>
            (i * 0.25, i * 0.25 + 0.2, words(i)))
          Mp4.write(frames, 16, 12, 2, Some((samples, 800)),
            subtitles = cues)
        }
        val clipped = udf { (v: Array[Byte]) =>
          Video.clipMp4Bytes(v, 0.5, 1.75)
        }
        T(s, dir, "documents")
          .filter(col("doc_id") < 50)
          .withColumn("toks", slice(toks, lit(1), k))
          .withColumn("c", clipped(mkFull(k, col("toks"))))
          .withColumn("subs", Video.extractSubtitles(col("c")))
          .select(col("doc_id"),
            Video.frameCount(col("c")).cast("long").as("n_frames"),
            Audio.sampleCount(Video.extractAudio(col("c")))
              .cast("long").as("a_len"),
            size(col("subs")).cast("long").as("n_cues"),
            element_at(col("subs"), 1)("_3").as("first_text"),
            round(element_at(col("subs"), 1)("_1") * 1000)
              .cast("long").as("first_start_ms"),
            round(element_at(col("subs"), -1)("_2") * 1000)
              .cast("long").as("last_end_ms"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id, 3::BIGINT AS n_frames, 1000::BIGINT AS a_len,
             |  (least(doc_id % 6 + 4, 7) - 2)::BIGINT AS n_cues,
             |  list_extract(string_split_regex(trim(text), '\s+'), 3)
             |    AS first_text,
             |  0::BIGINT AS first_start_ms,
             |  (least(doc_id % 6 + 3, 6) * 250 - 300)::BIGINT AS last_end_ms
             |FROM documents WHERE doc_id < 50
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q176_pdf_images",
      (s, dir) => {
        // Embedded-image extraction from PDFs in the oracle gate (the
        // document_splitter `elements=['image']` surface,
        // `functions/document.py:120-146`): per doc, a 2-page PDF embeds
        // an id-derived solid PNG on page 2 (Flate/DeviceRGB XObject);
        // extraction reports page/geometry/format and the decoded pixels
        // — lossless, so every channel is a closed form; page text
        // survives alongside the image.
        import graft.functions.{Images, Pdf}
        val mkPdf = udf { (first: String, w: Int, h: Int, rgb: Int) =>
          Pdf.writePdfWithImages(Seq(first, "figure page"),
            Map(1 -> Images.solidPng(w, h, rgb)))
        }
        val w0 = (col("doc_id") % 9 + 4).cast("int")
        val h0 = (col("doc_id") % 5 + 3).cast("int")
        val rgb = (col("doc_id") * 3000 % 0xffffff).cast("int")
        val toks = split(trim(col("text")), "\\s+")
        T(s, dir, "documents")
          .filter(col("doc_id") < 50)
          .withColumn("pdf", mkPdf(element_at(toks, 1), w0, h0, rgb))
          .withColumn("imgs", Pdf.embeddedImages(col("pdf")))
          .withColumn("i0", element_at(col("imgs"), 1))
          .select(col("doc_id"),
            size(col("imgs")).cast("long").as("n_images"),
            col("i0._1").cast("long").as("page"),
            col("i0._3").cast("long").as("w"),
            col("i0._4").cast("long").as("h"),
            col("i0._5").as("fmt"),
            Images.getPixel(col("i0._6"), lit(0), lit(0))
              .getItem(0).cast("long").as("r0"),
            Images.getPixel(col("i0._6"), w0 - 1, h0 - 1)
              .getItem(2).cast("long").as("b_last"),
            udf { (pdf: Array[Byte]) => Pdf.extractPages(pdf).head }
              .apply(col("pdf")).as("p1_text"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id, 1::BIGINT AS n_images, 2::BIGINT AS page,
             |  (doc_id % 9 + 4)::BIGINT AS w,
             |  (doc_id % 5 + 3)::BIGINT AS h,
             |  'png' AS fmt,
             |  ((doc_id * 3000 % 16777215) // 65536)::BIGINT AS r0,
             |  ((doc_id * 3000 % 16777215) % 256)::BIGINT AS b_last,
             |  list_extract(string_split_regex(trim(text), '\s+'), 1)
             |    AS p1_text
             |FROM documents WHERE doc_id < 50
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q177_html_imgpairs",
      (s, dir) => {
        // Image-text pair mining from crawl HTML (the alt-text pairing
        // step of a multimodal corpus build): per doc, synthesized HTML
        // embeds k <img> tags whose alt texts are the doc's own tokens
        // and whose srcs are id-derived URLs, plus decoys in
        // script/comment blocks; extraction yields exactly the real
        // pairs, in order — all closed forms of doc_id and the text.
        import graft.functions.Html
        val k = (col("doc_id") % 5 + 2).cast("int") // 2..6 pairs
        val toks = split(trim(col("text")), "\\s+")
        val mkHtml = udf { (id: Long, words: Seq[String]) =>
          val real = words.zipWithIndex.map { case (w, i) =>
            s"""<p>para $i</p><img src="https://img.example/$id/$i.jpg" alt="$w">"""
          }.mkString("\n")
          s"""<html><head><script>var fake = '<img src="no.png">';</script>
             |</head><body>
             |<!-- <img src="also-no.png"> -->
             |$real
             |<template><img src="tpl-no.png"></template>
             |</body></html>""".stripMargin
        }
        T(s, dir, "documents")
          .filter(col("doc_id") < 50)
          .withColumn("toks", slice(toks, lit(1), k))
          .withColumn("pairs",
            Html.imagePairs(mkHtml(col("doc_id"), col("toks"))))
          .select(col("doc_id"),
            size(col("pairs")).cast("long").as("n_pairs"),
            element_at(col("pairs"), 1)("src").as("first_src"),
            element_at(col("pairs"), 1)("alt").as("first_alt"),
            element_at(col("pairs"), -1)("alt").as("last_alt"),
            expr("transform(pairs, p -> p.alt) = toks").as("alts_ok"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH c AS (
             |  SELECT doc_id,
             |    list_slice(string_split_regex(trim(text), '\s+'),
             |      1, doc_id % 5 + 2) AS toks
             |  FROM documents WHERE doc_id < 50)
             |SELECT doc_id, len(toks)::BIGINT AS n_pairs,
             |  'https://img.example/' || doc_id || '/0.jpg' AS first_src,
             |  toks[1] AS first_alt, toks[len(toks)] AS last_alt,
             |  TRUE AS alts_ok
             |FROM c ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q178_office_media",
      (s, dir) => {
        // Embedded-media extraction from office packages in the oracle
        // gate (the DOCX counterpart of q176's PDF figures): per doc, a
        // DOCX with an id-derived solid PNG under word/media extracts
        // bit-exact — path/extension/pixels all closed forms — and the
        // heading→markdown pipeline is undisturbed by the media part.
        import graft.functions.{Images, Office}
        val mkDocx = udf { (title: String, w: Int, h: Int, rgb: Int, n: Int) =>
          Office.addMedia(
            Office.writeDocx(Seq((1, title), (0, "body text"))),
            (0 until n).map(i =>
              s"fig$i.png" -> Images.solidPng(w, h, rgb)))
        }
        val w0 = (col("doc_id") % 8 + 3).cast("int")
        val h0 = (col("doc_id") % 6 + 2).cast("int")
        val rgb = (col("doc_id") * 5000 % 0xffffff).cast("int")
        val n = (col("doc_id") % 3 + 1).cast("int")
        val toks = split(trim(col("text")), "\\s+")
        T(s, dir, "documents")
          .filter(col("doc_id") < 50)
          .withColumn("docx", mkDocx(element_at(toks, 1), w0, h0, rgb, n))
          .withColumn("media", Office.embeddedMedia(col("docx")))
          .withColumn("m0", element_at(col("media"), 1))
          .select(col("doc_id"),
            size(col("media")).cast("long").as("n_media"),
            col("m0._1").as("path"),
            col("m0._2").as("ext"),
            Images.getPixel(col("m0._3"), lit(0), lit(0))
              .getItem(1).cast("long").as("g0"),
            udf { (b: Array[Byte]) => Office.documentToText(b) }
              .apply(col("docx")).startsWith(concat(lit("# "),
                element_at(toks, 1))).as("md_ok"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id, (doc_id % 3 + 1)::BIGINT AS n_media,
             |  'word/media/fig0.png' AS path, 'png' AS ext,
             |  ((doc_id * 5000 % 16777215) % 65536 // 256)::BIGINT AS g0,
             |  TRUE AS md_ok
             |FROM documents WHERE doc_id < 50
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q179_webp_anim",
      (s, dir) => {
        // Animated WebP (VP8X+ANIM+ANMF, lossless frames) in the oracle
        // gate — the animated-GIF iterator shape (q85) on the crawl-era
        // format: per doc, an id-derived animation (frame i is a solid
        // color, duration (i+1)*30 ms) round-trips through
        // encodeAnimation → readAnimFrames; counts, timing sums, loop
        // count and frame pixels are all closed forms (lossless).
        import graft.functions.{Images, Webp}
        val mkAnim = udf { (id: Long, n: Int) =>
          Webp.encodeAnimation((0 until n).map { i =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(
                Images.solidPng(6, 4, ((id * 999 + i * 37) % 0xffffff).toInt)))
            (img: java.awt.image.BufferedImage, (i + 1) * 30)
          }, loopCount = (id % 5).toInt)
        }
        val loops = udf { (b: Array[Byte]) =>
          Webp.animInfo(b).map(_._1).getOrElse(-1)
        }
        val animated = udf { (b: Array[Byte]) => Webp.readMeta(b).animated }
        val n = (col("doc_id") % 4 + 2).cast("int") // 2..5 frames
        T(s, dir, "documents")
          .filter(col("doc_id") < 50)
          .withColumn("w", mkAnim(col("doc_id"), n))
          .withColumn("fs", Webp.animFrames(col("w")))
          .select(col("doc_id"),
            size(col("fs")).cast("long").as("n_frames"),
            animated(col("w")).as("is_anim"),
            loops(col("w")).cast("long").as("loops"),
            expr("aggregate(fs, 0L, (a, f) -> a + f._5)").as("total_ms"),
            Images.getPixel(element_at(col("fs"), 1)("_6"), lit(0), lit(0))
              .getItem(0).cast("long").as("f0_r"),
            Images.getPixel(element_at(col("fs"), -1)("_6"), lit(5), lit(3))
              .getItem(2).cast("long").as("flast_b"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id, (doc_id % 4 + 2)::BIGINT AS n_frames,
             |  TRUE AS is_anim, (doc_id % 5)::BIGINT AS loops,
             |  (30 * (doc_id % 4 + 2) * (doc_id % 4 + 3) / 2)::BIGINT
             |    AS total_ms,
             |  ((doc_id * 999 % 16777215) // 65536)::BIGINT AS f0_r,
             |  (((doc_id * 999 + (doc_id % 4 + 1) * 37) % 16777215) % 256)
             |    ::BIGINT AS flast_b
             |FROM documents WHERE doc_id < 50
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q180_mkv_container",
      (s, dir) => {
        // Matroska/WebM (EBML) demux in the oracle gate (the reference's
        // flagship iterators run on WebM via pyav —
        // `functions/video/iterators.py:41-123`): per doc, an MJPEG+PCM+
        // SRT+tags MKV (webm doctype on odd ids) muxed from closed-form
        // fixtures round-trips through the SAME sniffed video surface as
        // MP4/AVI — header-only metadata, bit-exact frame payloads,
        // sample-exact PCM across ~100 ms block boundaries, subtitle
        // cues on the ms grid, Matroska Tags, and per-cluster CuePoints
        // (the sidx analog; cluster count is a closed form of the
        // subtitle spread). Every output is a closed form of doc_id.
        import graft.functions.{Audio, Avi, Mkv, Video}
        val mkMkv = udf { (id: Long, n: Int, ns: Int, k: Int) =>
          val frames = Avi.readFrames(Video.makeTestVideo(n, 16, 12, 0x336699, 10))
          val samples = Array.tabulate(ns)(i => (i % 100).toShort)
          val cues = (0 until k).map(i => (i * 4.0, i * 4.0 + 1.0, "s" + i))
          Mkv.write(frames, 16, 12, 10, Some((samples, 8000)),
            subtitles = cues, tags = Seq("title" -> ("T" + id)),
            docType = if (id % 2 == 0) "matroska" else "webm")
        }
        val framesOk = udf { (v: Array[Byte], n: Int) =>
          val fs = Mkv.readFrames(v)
          val src = Avi.readFrames(Video.makeTestVideo(n, 16, 12, 0x336699, 10))
          fs.length == n && fs.zip(src).forall(p => p._1.sameElements(p._2))
        }
        val nCues = udf { (v: Array[Byte]) => Mkv.segmentCues(v).length }
        val n = (col("doc_id") % 5 + 2).cast("int")  // 2..6 frames
        val ns = ((col("doc_id") % 4 + 1) * 800).cast("int") // PCM samples
        val k = (col("doc_id") % 6 + 4).cast("int")  // 4..9 subtitle cues
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("v", mkMkv(col("doc_id"), n, ns, k))
          .withColumn("m", Video.getMetadata(col("v")))
          .withColumn("subs", Video.extractSubtitles(col("v")))
          .withColumn("k", k)
          .select(col("doc_id"),
            col("m.width").as("w"), col("m.height").as("h"),
            col("m.fps").as("fps"), col("m.frames").as("n_frames"),
            col("m.duration_s").as("dur_s"),
            col("m.codec").as("codec"), col("m.format").as("format"),
            framesOk(col("v"), n).as("frames_ok"),
            Audio.sampleSum(Video.extractAudio(col("v"))).as("pcm_sum"),
            size(col("subs")).cast("long").as("n_subs"),
            expr("""transform(subs, c -> named_struct(
                   |  's', c._1, 'e', c._2, 't', c._3)) =
                   |transform(sequence(0, k - 1), i -> named_struct(
                   |  's', cast(i * 4.0 as double),
                   |  'e', cast(i * 4.0 + 1.0 as double),
                   |  't', concat('s', cast(i as string))))""".stripMargin)
              .as("subs_ok"),
            element_at(col("subs"), -1)("_3").as("last_sub"),
            Audio.mediaTags(col("v")).getItem("title").as("title"),
            nCues(col("v")).cast("long").as("n_cues"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id, 16 AS w, 12 AS h, 10.0::DOUBLE AS fps,
             |  (doc_id % 5 + 2)::INT AS n_frames,
             |  (doc_id % 5 + 2)::DOUBLE / 10.0::DOUBLE AS dur_s,
             |  'JPEG' AS codec,
             |  CASE WHEN doc_id % 2 = 0 THEN 'MKV' ELSE 'WEBM' END AS format,
             |  TRUE AS frames_ok,
             |  (4950 * (doc_id % 4 + 1) * 8)::BIGINT AS pcm_sum,
             |  (doc_id % 6 + 4)::BIGINT AS n_subs,
             |  TRUE AS subs_ok,
             |  's' || (doc_id % 6 + 3)::VARCHAR AS last_sub,
             |  'T' || doc_id::VARCHAR AS title,
             |  (((doc_id % 6 + 3) * 4000) // 10000 + 1)::BIGINT AS n_cues
             |FROM documents WHERE doc_id < 40
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q181_ogg_heif_meta",
      (s, dir) => {
        // Ogg (RFC 3533 page walk + OpusHead/Vorbis-ident detection) and
        // AVIF/HEIF (ISO-BMFF meta/iinf/iprp/ipco/ispe walk) in the
        // `get_metadata` oracle gate (reference surfaces both via
        // pyav/PIL — `functions/util.py:40-110`): per doc, id-derived
        // fixtures (real OpusHead/vorbis headers with CRC'd pages whose
        // granules advance closed-form; a real ftyp/meta item tree)
        // report identity, geometry and timing through the SAME sniffed
        // containerMetadata struct as MP4/MKV/WAV. Opus duration proves
        // the 48 kHz granule rate + preskip subtraction; every column is
        // a closed form of doc_id.
        import graft.functions.{Heif, Multimedia, Ogg}
        val mkOgg = udf { (id: Long) =>
          val codec = if (id % 2 == 0) "opus" else "vorbis"
          Ogg.writeTestOgg(codec, (id % 2 + 1).toInt,
            (8000 * (id % 3 + 1)).toInt, (id % 4 + 2).toInt, 800,
            preSkip = if (codec == "opus") 312 else 0)
        }
        val mkImg = udf { (id: Long) =>
          Heif.writeTest(if (id % 2 == 0) "AVIF" else "HEIF",
            (id % 9 + 10).toInt, (id % 5 + 8).toInt, (id % 3 + 1).toInt)
        }
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("am", Multimedia.containerMetadata(mkOgg(col("doc_id"))))
          .withColumn("im", Multimedia.containerMetadata(mkImg(col("doc_id"))))
          .withColumn("as0", element_at(col("am.streams"), 1))
          .withColumn("is0", element_at(col("im.streams"), 1))
          .select(col("doc_id"),
            col("am.format").as("afmt"),
            col("as0.codec_context.name").as("acodec"),
            col("as0.codec_context.channels").cast("int").as("ch"),
            col("as0.codec_context.sample_rate").cast("int").as("rate"),
            col("as0.duration").cast("long").as("samples"),
            col("as0.duration_seconds").as("dur_s"),
            col("as0.frames").cast("int").as("n_pages"),
            col("im.format").as("ifmt"),
            col("is0.codec_context.name").as("icodec"),
            col("is0.width").cast("int").as("iw"),
            col("is0.height").cast("int").as("ih"),
            col("is0.frames").cast("int").as("n_items"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id, 'OGG' AS afmt,
             |  CASE WHEN doc_id % 2 = 0 THEN 'opus' ELSE 'vorbis' END
             |    AS acodec,
             |  (doc_id % 2 + 1)::INT AS ch,
             |  (8000 * (doc_id % 3 + 1))::INT AS rate,
             |  ((doc_id % 4 + 2) * 800)::BIGINT AS samples,
             |  ((doc_id % 4 + 2) * 800)::DOUBLE /
             |    (CASE WHEN doc_id % 2 = 0 THEN 48000
             |          ELSE 8000 * (doc_id % 3 + 1) END) AS dur_s,
             |  (doc_id % 4 + 4)::INT AS n_pages,
             |  CASE WHEN doc_id % 2 = 0 THEN 'AVIF' ELSE 'HEIF' END AS ifmt,
             |  CASE WHEN doc_id % 2 = 0 THEN 'av1' ELSE 'hevc' END AS icodec,
             |  (doc_id % 9 + 10)::INT AS iw,
             |  (doc_id % 5 + 8)::INT AS ih,
             |  (doc_id % 3 + 1)::INT AS n_items
             |FROM documents WHERE doc_id < 40
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q182_corpus_rehearsal",
      (s, dir) => {
        // End-to-end corpus rehearsal (VERDICT r11 task 7): the REAL
        // 100 TB pipeline composed as one plan — quality filter FIRST
        // (token gate on the raw scan, before any media work), then the
        // same content muxed into four containers per doc (MP4+WebVTT,
        // MKV+SRT, PDF, HTML — "the same page crawled four ways"),
        // content-sniffed format detection, per-container text
        // extraction, whitespace normalization, exact near-dup collapse
        // (md5 groupBy on normalized text — 4 copies fold to 1 canonical
        // row, cross-doc prefix collisions fold further), and GPT-style
        // sequence packing of the survivors (two-phase distributed
        // prefix scan, capacity 64). Single documents scan; every stage
        // feeds the next without re-reading the table. All outputs are
        // closed forms of doc_id + the doc's own tokens.
        import graft.functions.{Avi, Mkv, Mp4, Multimedia, Office, Pdf, Video}
        val mkPayloads = udf { (toks: Seq[String]) =>
          val p = toks.mkString(" ")
          val cues = toks.zipWithIndex.map { case (t, i) =>
            (i * 1.0, i * 1.0 + 0.5, t)
          }
          val frames = Avi.readFrames(Video.makeTestVideo(2, 16, 12, 0x112233, 10))
          Seq(
            Mp4.write(frames, 16, 12, 10, subtitles = cues),
            Mkv.write(frames, 16, 12, 10, subtitles = cues),
            Pdf.writePdf(Seq(p)),
            ("<html><body><p>" + p + "</p></body></html>")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        val sniffFmt = udf { (b: Array[Byte]) =>
          if (Mp4.isMp4(b) || Mkv.isMkv(b)) Multimedia.containerMeta(b).format
          else if (b.length >= 4 && b(0) == '%' && b(1) == 'P' &&
            b(2) == 'D' && b(3) == 'F') "PDF"
          else "HTML"
        }
        val extractText = udf { (b: Array[Byte]) =>
          if (Mp4.isMp4(b)) Mp4.readSubtitles(b).map(_._3).mkString(" ")
          else if (Mkv.isMkv(b)) Mkv.readSubtitles(b).map(_._3).mkString(" ")
          else Office.documentToText(b)
        }
        val survivors = T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("toks", expr(
            """filter(transform(
              |  slice(split(trim(text), '\\s+'), 1,
              |        cast(doc_id % 6 + 4 as int)),
              |  t -> regexp_replace(t, '[^a-zA-Z0-9]', '')),
              |  x -> x != '')""".stripMargin))
          .withColumn("tok", size(col("toks")).cast("long"))
          .filter(col("tok") >= 5) // quality gate BEFORE media work
          .withColumn("payload", explode(mkPayloads(col("toks"))))
          .withColumn("fmt", sniffFmt(col("payload")))
          .withColumn("norm",
            regexp_replace(trim(extractText(col("payload"))), "\\s+", " "))
          .groupBy(col("norm")) // exact dedup on normalized content
          .agg(min(col("doc_id")).as("canon_doc"),
            min(col("tok")).as("tok"),
            count(lit(1)).as("n_copies"),
            concat_ws(",", array_sort(collect_set(col("fmt"))))
              .as("formats"))
          // materialize the dedup output ONCE: packBins' quantile
          // pre-pass would otherwise recompute the whole mux+extract
          // subtree a second time (at corpus scale the pack input is the
          // deduped corpus — checkpoint it, don't re-derive it)
          .localCheckpoint(false)
        graft.operators.Pack
          .packBins(survivors, col("canon_doc"), col("tok"), 64L, "bin")
          .select(col("canon_doc"), col("tok"), col("n_copies"),
            col("formats"), col("bin"))
          .transform(graft.QueryUtil.orderedSmall(_, col("canon_doc")))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, list_filter(list_transform(
             |      list_slice(string_split_regex(trim(text), '\s+'),
             |                 1, doc_id % 6 + 4),
             |      t -> regexp_replace(t, '[^a-zA-Z0-9]', '', 'g')),
             |    x -> x <> '') AS toks
             |  FROM documents WHERE doc_id < 40
             |), f AS (
             |  SELECT doc_id, list_aggregate(toks, 'string_agg', ' ') AS p,
             |    len(toks)::BIGINT AS tok
             |  FROM t WHERE len(toks) >= 5
             |), g AS (
             |  SELECT p, min(doc_id) AS canon_doc, min(tok) AS tok,
             |    (count(*) * 4)::BIGINT AS n_copies
             |  FROM f GROUP BY p
             |), o AS (
             |  SELECT canon_doc, tok, n_copies,
             |    coalesce(sum(tok) OVER (ORDER BY canon_doc
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
             |  FROM g
             |)
             |SELECT canon_doc, tok, n_copies,
             |  'HTML,MKV,MP4,PDF' AS formats,
             |  (off // 64)::BIGINT AS bin
             |FROM o ORDER BY canon_doc""".stripMargin),
    ),
    QueryDef(
      "q183_vorbis_tags",
      (s, dir) => {
        // Vorbis-comment tags (the Xiph tag standard shared by FLAC's
        // VORBIS_COMMENT block, Ogg Vorbis comment headers and Opus's
        // OpusTags — the format-metadata dict the reference surfaces via
        // pyav, `functions/util.py:40-110`) in the oracle gate: per doc,
        // an id-derived FLAC gets tags spliced in (`Flac.withTags`, the
        // ID3v2/ilst twin) and an Ogg fixture carries a real comment
        // header; both round-trip through the SAME content-sniffed
        // `mediaTags` surface as MP4/MKV/MP3, the FLAC still decodes
        // sample-exact after the splice (pcm proof column), and the
        // containerMetadata tag dict carries the same values. All
        // closed forms of doc_id.
        import graft.functions.{Audio, Flac, Multimedia, Ogg}
        val mkFlac = udf { (id: Long) =>
          Flac.withTags(
            Flac.encode(Array.tabulate(800)(i => (i % 50).toShort), 1, 8000),
            Seq("title" -> ("F" + id), "artist" -> ("fa" + (id % 7))))
        }
        val mkOgg = udf { (id: Long) =>
          Ogg.writeTestOgg(if (id % 2 == 0) "opus" else "vorbis", 1, 16000,
            2, 800, tags = Seq("title" -> ("O" + id),
              "track" -> String.valueOf(id % 9)))
        }
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("f", mkFlac(col("doc_id")))
          .withColumn("o", mkOgg(col("doc_id")))
          .withColumn("ft", Audio.mediaTags(col("f")))
          .withColumn("ot", Audio.mediaTags(col("o")))
          .select(col("doc_id"),
            col("ft").getItem("title").as("f_title"),
            col("ft").getItem("artist").as("f_artist"),
            Audio.sampleSum(col("f")).as("f_pcm_sum"),
            col("ot").getItem("title").as("o_title"),
            col("ot").getItem("track").as("o_track"),
            element_at(
              Multimedia.containerMetadata(col("o"))("metadata"), "title")
              .as("o_meta_title"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id,
             |  'F' || doc_id::VARCHAR AS f_title,
             |  'fa' || (doc_id % 7)::VARCHAR AS f_artist,
             |  19600::BIGINT AS f_pcm_sum,
             |  'O' || doc_id::VARCHAR AS o_title,
             |  (doc_id % 9)::VARCHAR AS o_track,
             |  'O' || doc_id::VARCHAR AS o_meta_title
             |FROM documents WHERE doc_id < 40
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q184_stream_neardup",
      (s, dir) => {
        // Streaming near-dup ORACLE gate: `Streaming.nearDupStream` (the
        // flatMapGroupsWithState simhash-bucket operator) replayed over a
        // staged corpus with maxHamming = 0 — exact-signature semantics,
        // so the DuckDB oracle reproduces the ENTIRE operator bit-for-bit:
        // simhash16 is a per-token md5-bit vote (TextFunctions.simhash16),
        // recomputed in SQL from the same md5 hex digits, and dup_of is
        // the earliest prior doc with the same 16-bit signature (a window
        // over sig). Duplicates exist by construction (see NearDupCorpus);
        // signature collisions across different texts are NOT a gate
        // hazard because the oracle models the signature itself, not text
        // equality. Six files replayed one per micro-batch: dup state must
        // SURVIVE the batch boundary — cross-batch pairs like (18, 20)
        // only resolve through the persisted state store. Scale shape:
        // state is O(buckets x cap), keyed shuffle only — the streaming
        // form of q35's batch simhash dedup.
        verdictRows(graft.QueryUtil.replayToMemory(s,
          q184Corpus.stage(s, dir))(exactDups))
      },
      Some(q184Corpus.oracle()),
    ),
    QueryDef(
      "q185_stream_decontam",
      (s, dir) => {
        // Stream-static decontamination: q94's 13-gram benchmark check run
        // as a CONTINUOUS INGESTION filter — the training docs arrive as a
        // stream, the benchmark gram set is a static broadcast side, and
        // the per-doc contamination count aggregates in complete mode
        // (bounded replay; the unbounded form uses watermarked update
        // mode). Same DuckDB oracle shape as q94 gates both engines, so
        // this is batch-stream equivalence gate #3 (q101 windowed agg,
        // q184 stateful dedup, q185 stream-static join). Scale shape:
        // map-only gram explosion on the stream, benchmark grams broadcast
        // (eval suites are MBs vs a 100 TB feed), one keyed state shuffle.
        import graft.functions.TextFunctions
        val docs = T(s, dir, "documents")
        val benchGrams = docs.where(col("doc_id") % 7 === 0)
          .select(explode(TextFunctions.wordNgrams(
            TextFunctions.tokens(lower(col("text"))), 13)).as("g"))
          .distinct()
        val stage = graft.QueryUtil.tempDir("q185_in")
        docs.where(col("doc_id") % 7 =!= 0).select("doc_id", "text")
          .coalesce(1).write.mode("overwrite").parquet(stage.toString)
        graft.QueryUtil.replayToMemory(s, stage, "complete") { stream =>
          // single staged file → the file source gives the micro-batch ONE
          // input partition, so the 13-gram explosion ran on one task; fan
          // it out exactly like the batch twin q94 does on the same
          // single-row-group corpus (explicit width, not the gate
          // state-partition count — the explosion is map work, the tiny
          // agg after it is what that count sizes)
          stream
            .repartition(graft.QueryUtil.Fanout, col("doc_id"))
            .select(col("doc_id"), explode(TextFunctions.wordNgrams(
              TextFunctions.tokens(lower(col("text"))), 13)).as("g"))
            .join(broadcast(benchGrams), "g")
            .groupBy(col("doc_id"))
            .agg(size(collect_set(col("g"))).cast("long").as("n_contaminated"))
        }.transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
             |  FROM documents),
             |pos AS (SELECT doc_id, t,
             |  unnest(range(1, greatest(len(t) - 11, 1))) AS i FROM toks),
             |grams AS (SELECT doc_id, array_to_string(t[i:i+12], ' ') AS g
             |  FROM pos),
             |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 7 = 0)
             |SELECT g.doc_id, count(DISTINCT g.g)::BIGINT AS n_contaminated
             |FROM grams g JOIN bench b ON g.g = b.g
             |WHERE g.doc_id % 7 <> 0
             |GROUP BY 1 ORDER BY 1""".stripMargin),
    ),
    QueryDef(
      "q186_stream_watermark",
      (s, dir) => {
        // Watermarked APPEND-mode event-time windows with real late-data
        // drops — the semantics q101's complete-mode gate deliberately
        // punted on. Controlled replay (lateDataStage): four files, one
        // per micro-batch; file b2 (docs 40-49) arrives in batch 3
        // carrying STALE event times inside b0's era. By then the
        // watermark (60 s delay) has passed those windows' ends, their
        // state is emitted-and-evicted, so every late row must be DROPPED
        // from the appended output. The emission cutoff is Spark's
        // documented watermark timing (watermark computed at batch end
        // applies from the NEXT batch; AvailableNow runs a final no-data
        // batch to flush): windows with end <= max_event_time - delay
        // emit, the trailing open windows never do. sum_doc pins WHICH
        // docs were counted, not just how many.
        graft.QueryUtil.replayToMemory(s, lateDataStage(s, dir)) {
          _.withWatermark("ts", "60 seconds")
            .groupBy(window(col("ts"), "120 seconds"))
            .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_doc"))
        }
          .select(unix_timestamp(col("window.start")).as("w_start"),
            col("n"), col("sum_doc"))
          .transform(graft.QueryUtil.orderedSmall(_, col("w_start")))
      },
      Some("""WITH ontime AS (
             |  -- late docs (40-49) never appear: their windows were
             |  -- emitted-and-evicted before the stale file arrived
             |  SELECT doc_id, 1000000000 + 30 * doc_id AS ts
             |  FROM documents
             |  WHERE doc_id < 60 AND doc_id NOT BETWEEN 40 AND 49
             |), w AS (
             |  -- Spark tumbling windows align to the unix epoch, not to
             |  -- the stream's first event
             |  SELECT (ts // 120 * 120)::BIGINT AS w_start,
             |    count(*)::BIGINT AS n, sum(doc_id)::BIGINT AS sum_doc
             |  FROM ontime GROUP BY 1
             |)
             |-- append mode emits windows whose end has passed the final
             |-- watermark = max on-time event (1000001770) - 60 s delay;
             |-- the trailing open windows never emit
             |SELECT w_start, n, sum_doc FROM w
             |WHERE w_start + 120 <= 1000001770 - 60
             |ORDER BY w_start""".stripMargin),
    ),
    QueryDef(
      "q187_stream_sessionize",
      (s, dir) => {
        // Streaming gap sessionization (Streaming.sessionizeStream —
        // flatMapGroupsWithState with an EVENT-TIME timeout; q40's batch
        // semantics on an unbounded stream) oracle-gated. Real events for
        // 8 users, ms-truncated up front (the operator's per-key state is
        // epoch-millis), replayed as four TIME-ORDERED slices consumed
        // one per micro-batch, so sessions span batch boundaries and
        // close all three ways: a gap inside a batch, a later batch's
        // event exceeding the gap, and the event-time timeout when the
        // final watermark passes session_end + gap. The oracle is q40's
        // session assembly plus the emission rule: every non-final
        // session per user emits; a user's FINAL session emits iff the
        // final watermark (global max event time - 30 min delay) passed
        // its end + 30 min gap — the trailing open sessions never emit.
        import org.apache.spark.sql.expressions.Window
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val events = s"$dir/events.parquet"
        val schema = graft.io.ParquetFooters.schemaAt(s, events)
        val tsNorm = schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            timestamp_micros(expr("ts div 1000"))
          case _ => col("ts").cast("timestamp")
        }
        val ev = s.read.schema(schema).parquet(events)
          .filter(col("user_id") < 8)
          .select(col("user_id").cast("long").as("user_id"),
            timestamp_millis(unix_millis(tsNorm)).as("ts"))
        val n = ev.count()
        // four time-ordered slices (534 rows at sf0.01 — the
        // no-partition window is construction-time, oracle-sized)
        val rn = row_number().over(Window.orderBy(col("ts"), col("user_id")))
        val sliced = ev.withColumn("rn", rn)
        // same quartile boundaries as the old per-slice filters
        // (rn in (k*n/4, (k+1)*n/4], Long division) as one staging job
        val fileIdx = when(col("rn") <= n / 4, 0)
          .when(col("rn") <= 2 * n / 4, 1)
          .when(col("rn") <= 3 * n / 4, 2).otherwise(3)
        // _k is computed from rn BEFORE rn is dropped; the helper's
        // partitionBy("_k") keeps it out of the staged data files
        val stage = graft.QueryUtil.stageStreamFiles(
          sliced.withColumn("_k", fileIdx).drop("rn"), col("_k"), 4,
          "q187_in", 1_000_000_000_000L)
        graft.QueryUtil.replayToMemory(s, stage)(stream =>
          graft.streaming.Streaming
            .sessionizeStream(stream, 30L * 60L * 1000L, "30 minutes").toDF())
          .select(col("user_id"),
            col("session_start").cast("timestamp_ntz").as("session_start"),
            col("session_end").cast("timestamp_ntz").as("session_end"),
            col("n_events"))
          .transform(graft.QueryUtil.orderedSmall(_,
            col("user_id"), col("session_start")))
      },
      Some("""WITH e AS (
             |  SELECT user_id, make_timestamp(epoch_ms(ts) * 1000) AS ts
             |  FROM events WHERE user_id < 8
             |), marks AS (
             |  SELECT user_id, ts,
             |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
             |         OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
             |), sess AS (
             |  SELECT user_id, ts,
             |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM marks
             |), agg AS (
             |  SELECT user_id, sid, min(ts) AS session_start,
             |    max(ts) AS session_end, count(*)::BIGINT AS n_events
             |  FROM sess GROUP BY 1, 2
             |), mx AS (SELECT max(epoch_ms(ts)) AS m FROM e)
             |SELECT user_id, session_start, session_end, n_events
             |FROM agg, mx
             |WHERE sid < (SELECT max(sid) FROM agg a2
             |             WHERE a2.user_id = agg.user_id)
             |   OR epoch_ms(session_end) + 1800000 < m - 1800000
             |ORDER BY user_id, session_start""".stripMargin),
    ),
    QueryDef(
      "q188_pdf_render",
      (s, dir) => {
        // PDF page RASTERIZATION in the oracle gate (the reference's
        // document_splitter elements=['image'] surface: document.py:488
        // `page.render().to_pil()`): per doc, a 2-page fixture exercises
        // vector fills, Type3 text (the interpreter-exact tier), an image
        // XObject, a clip path, and 2x-scale rendering. Every column is a
        // closed-form pixel count on PIXEL-ALIGNED geometry — integer
        // boundaries leave antialiasing zero freedom, so exact-match
        // counts are deterministic. Layout is y-disjoint by construction
        // (text 5..15, rect 20..40, clip band ph-35..ph-25, image
        // ph-20..ph-10 with ph >= 80).
        import graft.functions.{Images, Pdf, PdfRender}
        import java.nio.charset.StandardCharsets.ISO_8859_1
        val mk = udf { (id: Long) =>
          val b = new Pdf.PdfBuilder
          val pw = 100 + (id % 7) * 10
          val ph = 80 + (id % 5) * 10
          val rx = 10 + id % 4
          val rw = 10 + id % 9
          val rh = 15 + id % 6
          val rgb = (id * 2500 + 7) % 0xffffff
          val k = (id % 3 + 1).toInt
          val cw = 5 + id % 4
          val proc = b.addStream("",
            "1200 0 d0 0 0 1000 1000 re f".getBytes(ISO_8859_1))
          val font = b.addObj(
            "<< /Type /Font /Subtype /Type3 " +
              "/FontMatrix [0.001 0 0 0.001 0 0] " +
              s"/CharProcs << /box $proc 0 R >> " +
              "/Encoding << /Differences [65 /box] >> " +
              "/FirstChar 65 /LastChar 65 /Widths [1200] >>")
          val img = b.addStream(
            "/Type /XObject /Subtype /Image /Width 2 /Height 1 " +
              "/ColorSpace /DeviceRGB /BitsPerComponent 8",
            Array(0xff, 0, 0, 0, 0xff, 0).map(_.toByte))
          def f(v: Long) = (v / 255.0).toString
          val content =
            s"${f((rgb >> 16) & 0xff)} ${f((rgb >> 8) & 0xff)} " +
              s"${f(rgb & 0xff)} rg $rx 20 $rw $rh re f " +
              s"0 g BT /T3 10 Tf 5 5 Td (${"A" * k}) Tj ET " +
              s"q 20 0 0 10 60 ${ph - 20} cm /I Do Q " +
              s"q 0 0 $cw $ph re W n 0 0 1 rg 0 ${ph - 35} 30 10 re f Q"
          b.addPage(content, (pw, ph),
            s"/Font << /T3 $font 0 R >> /XObject << /I $img 0 R >>")
          b.addPage(s"0 g 2 2 8 ${id % 5 + 3} re f",
            (60 + (id % 4) * 10, 50 + (id % 3) * 10))
          // page 3: embedded CFF (FontFile3/Type1C) text — the Type 2
          // charstring interpreter tier; k2 10x5pt glyph rects
          val k2 = (id % 4 + 1).toInt
          val cffStream = b.addStream("/Subtype /Type1C",
            graft.functions.Cff.write(Seq("A" ->
              graft.functions.Cff.charstring(Seq(0, 0, "rmoveto",
                100, "hlineto", 50, "vlineto", -100, "hlineto",
                "endchar"))), Seq(65)))
          val cffDesc = b.addObj("<< /Type /FontDescriptor /FontName " +
            s"/Fx /Flags 4 /FontFile3 $cffStream 0 R >>")
          val cffFont = b.addObj(
            "<< /Type /Font /Subtype /Type1 /BaseFont /Fx " +
              "/Encoding << /Differences [65 /A] >> " +
              "/FirstChar 65 /LastChar 65 /Widths [1000] " +
              s"/FontDescriptor $cffDesc 0 R >>")
          b.addPage(s"BT /F1 100 Tf 10 20 Td (${"A" * k2}) Tj ET",
            (420, 60), s"/Font << /F1 $cffFont 0 R >>")
          b.build()
        }
        val rgbCol = ((col("doc_id") * 2500 + 7) % 0xffffff).cast("int")
        T(s, dir, "documents")
          .filter(col("doc_id") < 50)
          .withColumn("pdf", mk(col("doc_id")))
          .withColumn("pages", PdfRender.renderPages(col("pdf")))
          .withColumn("pages2x", PdfRender.renderPages(col("pdf"), 2.0))
          .withColumn("p1", element_at(col("pages"), 1))
          .withColumn("p2", element_at(col("pages"), 2))
          .select(col("doc_id"),
            size(col("pages")).cast("long").as("n_pages"),
            col("p1._2").cast("long").as("w1"),
            col("p1._3").cast("long").as("h1"),
            col("p2._2").cast("long").as("w2"),
            col("p2._3").cast("long").as("h2"),
            graft.functions.Images.countColor(col("p1._4"), rgbCol)
              .as("rect_px"),
            Images.countColor(col("p1._4"), lit(0)).as("text_px"),
            Images.countColor(col("p1._4"), lit(0xff0000)).as("img_red"),
            Images.countColor(col("p1._4"), lit(0x0000ff)).as("clip_px"),
            Images.countColor(element_at(col("pages2x"), 1)("_4"), rgbCol)
              .as("rect2x_px"),
            Images.countColor(col("p2._4"), lit(0)).as("p2_black"),
            Images.countColor(element_at(col("pages"), 3)("_4"), lit(0))
              .as("cff_px"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id, 3::BIGINT AS n_pages,
             |  (100 + doc_id % 7 * 10)::BIGINT AS w1,
             |  (80 + doc_id % 5 * 10)::BIGINT AS h1,
             |  (60 + doc_id % 4 * 10)::BIGINT AS w2,
             |  (50 + doc_id % 3 * 10)::BIGINT AS h2,
             |  ((10 + doc_id % 9) * (15 + doc_id % 6))::BIGINT AS rect_px,
             |  ((doc_id % 3 + 1) * 100)::BIGINT AS text_px,
             |  100::BIGINT AS img_red,
             |  ((5 + doc_id % 4) * 10)::BIGINT AS clip_px,
             |  (4 * (10 + doc_id % 9) * (15 + doc_id % 6))::BIGINT
             |    AS rect2x_px,
             |  (8 * (doc_id % 5 + 3))::BIGINT AS p2_black,
             |  ((doc_id % 4 + 1) * 50)::BIGINT AS cff_px
             |FROM documents WHERE doc_id < 50
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q189_ccitt_fax",
      (s, dir) => {
        // CCITT G3/G4 fax decode (PDF CCITTFaxDecode — the dominant
        // scanned-PDF image encoding; ITU-T T.4/T.6): per doc a 3-page
        // scanned-document fixture built with the encoder twin. Page 1:
        // G4 (/K -1) black rectangle; page 2: G3 1-D (/K 0) with
        // /EncodedByteAlign, black stripes every 3rd row; page 3: the
        // page-1 geometry as /BlackIs1 true + /Decode [1 0] (must render
        // IDENTICALLY). Images drawn at exact pixel size → closed-form
        // pixel counts; extractImages must decode all three to PNG.
        import graft.functions.{CcittFax, Images, Pdf, PdfRender}
        def bitmap(cols: Int, rows: Int)(
            black: (Int, Int) => Boolean): Array[Byte] = {
          val rowBytes = (cols + 7) / 8
          val out = Array.fill[Byte](rows * rowBytes)(0)
          for (y <- 0 until rows; x <- 0 until cols)
            if (!black(x, y)) {
              val i = y * rowBytes * 8 + x
              out(i >> 3) = (out(i >> 3) | (1 << (7 - (i & 7)))).toByte
            }
          out
        }
        val mk = udf { (id: Long) =>
          val cw = (24 + (id % 5) * 8).toInt
          val chh = (20 + (id % 4) * 6).toInt
          val bx = (3 + id % 6).toInt
          val by = (2 + id % 5).toInt
          val bw = (5 + id % 7).toInt
          val bh = (4 + id % 6).toInt
          val cw2 = (16 + (id % 3) * 8).toInt
          val chh2 = (9 + id % 5).toInt
          val rect = bitmap(cw, chh)((x, y) =>
            x >= bx && x < bx + bw && y >= by && y < by + bh)
          val b = new Pdf.PdfBuilder
          def img(w: Int, h: Int, k: Int, payload: Array[Byte],
              extra: String): Int =
            b.addStream(
              "/Type /XObject /Subtype /Image " +
                s"/Width $w /Height $h /ColorSpace /DeviceGray " +
                "/BitsPerComponent 1 /Filter /CCITTFaxDecode " +
                s"/DecodeParms << /K $k /Columns $w /Rows $h$extra >>",
              payload)
          val i1 = img(cw, chh, -1,
            CcittFax.encode(rect, -1, cw, chh, blackIs1 = false,
              byteAlign = false), "")
          val stripes = bitmap(cw2, chh2)((_, y) => y % 3 == 0)
          val i2 = img(cw2, chh2, 0,
            CcittFax.encode(stripes, 0, cw2, chh2, blackIs1 = false,
              byteAlign = true), " /EncodedByteAlign true")
          val i3raw = b.addStream(
            "/Type /XObject /Subtype /Image " +
              s"/Width $cw /Height $chh /ColorSpace /DeviceGray " +
              "/BitsPerComponent 1 /Decode [1 0] " +
              "/Filter /CCITTFaxDecode " +
              s"/DecodeParms << /K -1 /Columns $cw /Rows $chh " +
              "/BlackIs1 true >>",
            CcittFax.encode(rect.map(v => (~v).toByte), -1, cw, chh,
              blackIs1 = true, byteAlign = false))
          b.addPage(s"q $cw 0 0 $chh 0 0 cm /I Do Q", (cw, chh),
            s"/XObject << /I $i1 0 R >>")
          b.addPage(s"q $cw2 0 0 $chh2 0 0 cm /I Do Q", (cw2, chh2),
            s"/XObject << /I $i2 0 R >>")
          b.addPage(s"q $cw 0 0 $chh 0 0 cm /I Do Q", (cw, chh),
            s"/XObject << /I $i3raw 0 R >>")
          b.build()
        }
        val extracted = udf { (pdf: Array[Byte]) =>
          val imgs = Pdf.extractImages(pdf)
          (imgs.count(_.format == "png"), imgs.head.width)
        }
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("pdf", mk(col("doc_id")))
          .withColumn("pages", PdfRender.renderPages(col("pdf")))
          .withColumn("ex", extracted(col("pdf")))
          .select(col("doc_id"),
            Images.countColor(element_at(col("pages"), 1)("_4"), lit(0))
              .as("p1_black"),
            Images.countColor(element_at(col("pages"), 1)("_4"),
              lit(0xffffff)).as("p1_white"),
            Images.countColor(element_at(col("pages"), 2)("_4"), lit(0))
              .as("p2_black"),
            Images.countColor(element_at(col("pages"), 3)("_4"), lit(0))
              .as("p3_black"),
            col("ex._1").cast("long").as("n_imgs"),
            col("ex._2").cast("long").as("img1_w"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id,
             |  ((5 + doc_id % 7) * (4 + doc_id % 6))::BIGINT AS p1_black,
             |  ((24 + doc_id % 5 * 8) * (20 + doc_id % 4 * 6)
             |    - (5 + doc_id % 7) * (4 + doc_id % 6))::BIGINT AS p1_white,
             |  ((16 + doc_id % 3 * 8) * ((9 + doc_id % 5 + 2) // 3))::BIGINT
             |    AS p2_black,
             |  ((5 + doc_id % 7) * (4 + doc_id % 6))::BIGINT AS p3_black,
             |  3::BIGINT AS n_imgs,
             |  (24 + doc_id % 5 * 8)::BIGINT AS img1_w
             |FROM documents WHERE doc_id < 40
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q190_hll_sketch",
      (s, dir) => {
        // HyperLogLog distinct-count sketch as plain codegen'd
        // aggregations (operators/Hll.scala): per-lang registers over
        // md5 hex digits, so the oracle recomputes the IDENTICAL sketch
        // state in SQL (the q184 simhash idiom) — integer register
        // functionals compare exactly, the float estimate gates as a
        // relative-error boolean against the exact distinct count.
        import graft.operators.Hll
        val docs = T(s, dir, "documents")
        val sk = Hll.distinctSketch(docs, Seq("lang"), col("doc_id"))
        val exact = docs.groupBy("lang")
          .agg(countDistinct("doc_id").cast("long").as("exact_distinct"))
        sk.join(exact, "lang")
          .select(col("lang"), col("n_hit"), col("sum_rho"),
            col("max_rho"), col("exact_distinct"),
            (abs(col("estimate") / col("exact_distinct") - 1) < 0.2)
              .as("est_ok"))
          .transform(graft.QueryUtil.orderedSmall(_, col("lang")))
      },
      Some("""WITH h AS (
             |  SELECT lang, md5(CAST(doc_id AS VARCHAR)) AS hx
             |  FROM documents
             |), zt AS (
             |  SELECT lang, hx,
             |    length(regexp_extract(substr(hx, 3, 13), '^0*')) AS z
             |  FROM h
             |), br AS (
             |  SELECT lang,
             |    (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
             |      + strpos('0123456789abcdef', substr(hx, 2, 1)) - 1
             |      AS bucket,
             |    CASE WHEN z = 13 THEN 53
             |      ELSE 4 * z + CASE WHEN dv >= 8 THEN 0
             |        WHEN dv >= 4 THEN 1 WHEN dv >= 2 THEN 2 ELSE 3 END
             |        + 1 END AS rho
             |  FROM (SELECT lang, hx, z,
             |          strpos('0123456789abcdef', substr(hx, 3 + z, 1))
             |            - 1 AS dv
             |        FROM zt)
             |), regs AS (
             |  SELECT lang, bucket, MAX(rho) AS m FROM br GROUP BY 1, 2
             |), ex AS (
             |  SELECT lang, COUNT(DISTINCT doc_id)::BIGINT
             |    AS exact_distinct
             |  FROM documents GROUP BY 1
             |)
             |SELECT r.lang, COUNT(*)::BIGINT AS n_hit,
             |  SUM(m)::BIGINT AS sum_rho, MAX(m)::BIGINT AS max_rho,
             |  -- not a tautology: the Spark side COMPUTES est_ok as
             |  -- a relative-error bound check; hash-match forces it
             |  -- to equal this literal TRUE
             |  ex.exact_distinct, TRUE AS est_ok
             |FROM regs r JOIN ex ON r.lang = ex.lang
             |GROUP BY r.lang, ex.exact_distinct
             |ORDER BY r.lang""".stripMargin),
    ),
    QueryDef(
      "q191_stream_hll",
      (s, dir) => {
        // Streaming HLL: the q190 register aggregation as a STREAMING
        // complete-mode groupBy over four mtime-ordered micro-batches
        // (maxFilesPerTrigger=1) — register state must survive batch
        // boundaries through the state store and converge to exactly the
        // batch sketch, which the oracle recomputes from md5 hex digits
        // (same construction as q190, doc_id < 1200 slice). This is the
        // streaming telemetry form: per-batch distinct-count registers
        // with bounded state (groups x 256 rows).
        import graft.operators.Hll
        val base = T(s, dir, "documents")
          .filter(col("doc_id") < 1200)
          .select(col("doc_id"), col("lang"))
        val stage = graft.QueryUtil.stageStreamFiles(base,
          (col("doc_id") / 300).cast("int"), 4, "q191_in",
          1_500_000_000_000L)
        val regs = graft.QueryUtil.replayToMemory(s, stage, "complete")(
          Hll.registers(_, Seq("lang"), col("doc_id")))
        val exact = base.groupBy("lang")
          .agg(countDistinct("doc_id").cast("long").as("exact_distinct"))
        Hll.estimate(regs, Seq("lang"))
          .join(exact, "lang")
          .select(col("lang"), col("n_hit"), col("sum_rho"),
            col("max_rho"), col("exact_distinct"),
            (abs(col("estimate") / col("exact_distinct") - 1) < 0.2)
              .as("est_ok"))
          .transform(graft.QueryUtil.orderedSmall(_, col("lang")))
      },
      Some("""WITH h AS (
             |  SELECT lang, md5(CAST(doc_id AS VARCHAR)) AS hx
             |  FROM documents WHERE doc_id < 1200
             |), zt AS (
             |  SELECT lang, hx,
             |    length(regexp_extract(substr(hx, 3, 13), '^0*')) AS z
             |  FROM h
             |), br AS (
             |  SELECT lang,
             |    (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
             |      + strpos('0123456789abcdef', substr(hx, 2, 1)) - 1
             |      AS bucket,
             |    CASE WHEN z = 13 THEN 53
             |      ELSE 4 * z + CASE WHEN dv >= 8 THEN 0
             |        WHEN dv >= 4 THEN 1 WHEN dv >= 2 THEN 2 ELSE 3 END
             |        + 1 END AS rho
             |  FROM (SELECT lang, hx, z,
             |          strpos('0123456789abcdef', substr(hx, 3 + z, 1))
             |            - 1 AS dv
             |        FROM zt)
             |), regs AS (
             |  SELECT lang, bucket, MAX(rho) AS m FROM br GROUP BY 1, 2
             |), ex AS (
             |  SELECT lang, COUNT(DISTINCT doc_id)::BIGINT
             |    AS exact_distinct
             |  FROM documents WHERE doc_id < 1200 GROUP BY 1
             |)
             |SELECT r.lang, COUNT(*)::BIGINT AS n_hit,
             |  SUM(m)::BIGINT AS sum_rho, MAX(m)::BIGINT AS max_rho,
             |  -- not a tautology: the Spark side COMPUTES est_ok as
             |  -- a relative-error bound check; hash-match forces it
             |  -- to equal this literal TRUE
             |  ex.exact_distinct, TRUE AS est_ok
             |FROM regs r JOIN ex ON r.lang = ex.lang
             |GROUP BY r.lang, ex.exact_distinct
             |ORDER BY r.lang""".stripMargin),
    ),
    QueryDef(
      "q192_pdf_patterns",
      (s, dir) => {
        // PDF tiling patterns and shadings (the constructs that were
        // named render-skips before round 12): per doc, page 1 fills a
        // region with a colored tiling pattern (closed-form: tiles x
        // cell-rect area), page 2 an UNCOLORED (PaintType 2) pattern
        // stenciling the scn color, page 3 floods a pixel-aligned clip
        // with a constant axial shading via the sh operator, page 4 a
        // shading PATTERN with a two-piece stitching step function whose
        // constant plateaus are asserted per-pixel (step_ok).
        import graft.functions.{Images, Pdf, PdfRender}
        val mk = udf { (id: Long) =>
          val rw = (2 + id % 4).toInt
          val rh = (2 + id % 3).toInt
          val tx = (2 + id % 3).toInt // tiles in x
          val ty = (1 + id % 2).toInt // tiles in y
          val cw = (10 + id % 7).toInt
          val ch = (5 + id % 5).toInt
          val b = new Pdf.PdfBuilder
          val cellOps = s"0 g 0 0 $rw $rh re f"
            .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
          val pat1 = b.addStream(
            "/PatternType 1 /PaintType 1 /TilingType 1 " +
              "/BBox [0 0 10 10] /XStep 10 /YStep 10 /Resources << >>",
            cellOps)
          b.addPage(s"/Pattern cs /P1 scn 0 0 ${tx * 10} ${ty * 10} re f",
            (tx * 10, ty * 10), s"/Pattern << /P1 $pat1 0 R >>")
          val pat2 = b.addStream(
            "/PatternType 1 /PaintType 2 /TilingType 1 " +
              "/BBox [0 0 10 10] /XStep 10 /YStep 10 /Resources << >>",
            s"0 0 $rw $rh re f"
              .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
          b.addPage(
            s"/Pattern cs 0 1 0 /P2 scn 0 0 ${tx * 10} ${ty * 10} re f",
            (tx * 10, ty * 10), s"/Pattern << /P2 $pat2 0 R >>")
          val shd = b.addObj(
            "<< /ShadingType 2 /ColorSpace /DeviceRGB /Coords [0 0 40 0] " +
              "/Function << /FunctionType 2 /C0 [1 0 0] /C1 [1 0 0] " +
              "/N 1 >> /Extend [true true] >>")
          b.addPage(s"q 2 2 $cw $ch re W n /S1 sh Q", (44, 14),
            s"/Shading << /S1 $shd 0 R >>")
          val pat3 = b.addObj(
            "<< /PatternType 2 /Shading << /ShadingType 2 " +
              "/ColorSpace /DeviceRGB /Coords [0 0 80 0] " +
              "/Function << /FunctionType 3 " +
              "/Functions [<< /FunctionType 2 /C0 [1 0 0] /C1 [1 0 0] " +
              "/N 1 >> << /FunctionType 2 /C0 [0 0 1] /C1 [0 0 1] " +
              "/N 1 >>] /Bounds [0.5] /Encode [0 1 0 1] " +
              "/Domain [0 1] >> /Extend [true true] >> >>")
          b.addPage("/Pattern cs /P3 scn 0 0 80 10 re f", (80, 10),
            s"/Pattern << /P3 $pat3 0 R >>")
          // page 5 (r13): type 4 (PostScript calculator) shading
          // function f(t) = (t, 1-t, 0) — linear, so the gradient paint
          // reproduces it exactly; endpoints + midpoint gate as t4_ok
          val fn4 = b.addStream(
            "/FunctionType 4 /Domain [0 1] /Range [0 1 0 1 0 1]",
            "{ dup 1 exch sub 0 }"
              .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
          val shd4 = b.addObj(
            "<< /ShadingType 2 /ColorSpace /DeviceRGB /Coords [0 0 80 0] " +
              s"/Function $fn4 0 R /Extend [true true] >>")
          b.addPage("/S4 sh", (80, 10), s"/Shading << /S4 $shd4 0 R >>")
          // page 6 (r13): DeviceN with a 2-D multi-input sampled (type
          // 0) tint transform — f(a,b) = a XOR b at the corners into
          // DeviceGray; (1,1) paints black, (1,0) paints white
          val fn0 = b.addStream(
            "/FunctionType 0 /Domain [0 1 0 1] /Range [0 1] " +
              "/Size [2 2] /BitsPerSample 8",
            Array(0x00.toByte, 0xff.toByte, 0xff.toByte, 0x00.toByte))
          val dw = (4 + id % 5).toInt
          val dh = (4 + id % 4).toInt
          b.addPage(
            s"/CS0 cs 1 1 scn 0 0 $dw $dh re f 1 0 scn 10 0 4 4 re f",
            (16, 12),
            "/ColorSpace << /CS0 [/DeviceN [/A /B] /DeviceGray " +
              s"$fn0 0 R] >>")
          b.build()
        }
        val t4Ok = udf { (png: Array[Byte]) =>
          val im = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(png))
          def p(x: Int) = im.getRGB(x, 5) & 0xffffff
          val l = p(2); val r = p(77); val m = p(40)
          ((l >> 8) & 0xff) > 230 && ((l >> 16) & 0xff) < 25 &&
            ((r >> 16) & 0xff) > 230 && ((r >> 8) & 0xff) < 25 &&
            math.abs(((m >> 16) & 0xff) - ((m >> 8) & 0xff)) <= 16
        }
        val stepOk = udf { (png: Array[Byte]) =>
          val im = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(png))
          def p(x: Int) = im.getRGB(x, 5) & 0xffffff
          p(10) == 0xff0000 && p(30) == 0xff0000 &&
            p(45) == 0x0000ff && p(75) == 0x0000ff
        }
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("pdf", mk(col("doc_id")))
          .withColumn("pages", PdfRender.renderPages(col("pdf")))
          .select(col("doc_id"),
            Images.countColor(element_at(col("pages"), 1)("_4"), lit(0))
              .as("tile_black"),
            Images.countColor(element_at(col("pages"), 2)("_4"),
              lit(0x00ff00)).as("stencil_green"),
            Images.countColor(element_at(col("pages"), 3)("_4"),
              lit(0xff0000)).as("sh_red"),
            stepOk(element_at(col("pages"), 4)("_4")).as("step_ok"),
            t4Ok(element_at(col("pages"), 5)("_4")).as("t4_ok"),
            Images.countColor(element_at(col("pages"), 6)("_4"), lit(0))
              .as("devn_black"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id,
             |  ((2 + doc_id % 3) * (1 + doc_id % 2)
             |    * (2 + doc_id % 4) * (2 + doc_id % 3))::BIGINT
             |    AS tile_black,
             |  ((2 + doc_id % 3) * (1 + doc_id % 2)
             |    * (2 + doc_id % 4) * (2 + doc_id % 3))::BIGINT
             |    AS stencil_green,
             |  ((10 + doc_id % 7) * (5 + doc_id % 5))::BIGINT AS sh_red,
             |  TRUE AS step_ok, TRUE AS t4_ok,
             |  ((4 + doc_id % 5) * (4 + doc_id % 4))::BIGINT AS devn_black
             |FROM documents WHERE doc_id < 40
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q193_countmin",
      (s, dir) => {
        // Count-Min sketch (operators/CountMin.scala): per-lang token
        // frequency counters over md5 hex digits — the oracle recomputes
        // the IDENTICAL counter table and min-estimates in SQL, so the
        // whole sketch state and every probe estimate compare
        // integer-exactly; the no-undercount guarantee gates as a
        // boolean. Probes are the true top-5 tokens per lang.
        import graft.operators.CountMin
        import org.apache.spark.sql.expressions.Window
        val toks = T(s, dir, "documents")
          .filter(col("doc_id") < 400)
          .select(col("lang"),
            explode(split(lower(col("text")), "\\s+")).as("tok"))
          .filter(length(col("tok")) > 0)
        val truth = toks.groupBy("lang", "tok")
          .agg(count(lit(1)).cast("long").as("true_cnt"))
        val probes = truth.withColumn("rn", row_number().over(
            Window.partitionBy("lang")
              .orderBy(col("true_cnt").desc, col("tok"))))
          .filter(col("rn") <= 5).drop("rn")
        val ctr = CountMin.counters(toks, Seq("lang"), col("tok"))
        CountMin.estimate(ctr, probes.select("lang", "tok"),
            Seq("lang"), "tok")
          .join(probes, Seq("lang", "tok"))
          .select(col("lang"), col("tok"), col("estimate"),
            col("true_cnt"),
            (col("estimate") >= col("true_cnt")).as("ge_ok"))
          .transform(graft.QueryUtil.orderedSmall(_, col("lang"),
            col("tok")))
      },
      Some("""WITH tok AS (
             |  SELECT lang, t AS tok FROM (
             |    SELECT lang,
             |      unnest(string_split_regex(lower(text), '\s+')) AS t
             |    FROM documents WHERE doc_id < 400)
             |  WHERE t <> ''
             |), truth AS (
             |  SELECT lang, tok, COUNT(*)::BIGINT AS true_cnt
             |  FROM tok GROUP BY 1, 2
             |), probes AS (
             |  SELECT lang, tok, true_cnt FROM (
             |    SELECT lang, tok, true_cnt, row_number() OVER (
             |      PARTITION BY lang ORDER BY true_cnt DESC, tok) AS rn
             |    FROM truth) WHERE rn <= 5
             |), hashed AS (
             |  SELECT lang, g.i AS row,
             |    (strpos('0123456789abcdef',
             |       substr(md5(g.i::VARCHAR || ':' || tok), 1, 1)) - 1)
             |     * 16 + strpos('0123456789abcdef',
             |       substr(md5(g.i::VARCHAR || ':' || tok), 2, 1)) - 1
             |     AS bucket
             |  FROM tok, generate_series(0, 3) AS g(i)
             |), ctr AS (
             |  SELECT lang, row, bucket, COUNT(*)::BIGINT AS cnt
             |  FROM hashed GROUP BY 1, 2, 3
             |), ph AS (
             |  SELECT p.lang, p.tok, p.true_cnt, g.i AS row,
             |    (strpos('0123456789abcdef',
             |       substr(md5(g.i::VARCHAR || ':' || p.tok), 1, 1)) - 1)
             |     * 16 + strpos('0123456789abcdef',
             |       substr(md5(g.i::VARCHAR || ':' || p.tok), 2, 1)) - 1
             |     AS bucket
             |  FROM probes p, generate_series(0, 3) AS g(i)
             |)
             |SELECT p.lang, p.tok,
             |  MIN(coalesce(c.cnt, 0))::BIGINT AS estimate,
             |  p.true_cnt, TRUE AS ge_ok
             |FROM ph p LEFT JOIN ctr c
             |  ON c.lang = p.lang AND c.row = p.row
             |  AND c.bucket = p.bucket
             |GROUP BY p.lang, p.tok, p.true_cnt
             |ORDER BY p.lang, p.tok""".stripMargin),
    ),
    QueryDef(
      "q194_vorbis_decode",
      (s, dir) => {
        // Vorbis I PCM decode in the oracle gate (reference decodes via
        // pyav — `functions/audio.py`, `functions/video/iterators.py:
        // 41-123`): per doc, closed-form coded residue vectors go
        // through the REAL encoder twin (in-stream codebooks, floor1,
        // type-2 residue, square-polar coupling on stereo docs) into an
        // Ogg stream (even docs) or a WebM/Matroska track with
        // Xiph-laced CodecPrivate (odd docs), then through the full
        // decoder. The oracle recomputes the post-coupling residue
        // integer sums in SQL — inverse coupling modeled as CASE
        // arithmetic, never assumed — and the PCM gates as a dual-path
        // exact-equality boolean (bitstream decode vs direct synthesis
        // of the same closed-form spectra). audio_splitter runs on an
        // encodePcm tone∥silence∥tone fixture whose interior silence
        // frames quantize to exact zeros, making the segment count a
        // closed form. Scale shape: map-only per document.
        import graft.functions.{Audio, Mkv, Ogg, Vorbis}
        def codedVec(doc: Long, ch: Int, p: Int): Array[Int] =
          Array.tabulate(ch * 128) { i =>
            if ((i / 8 + p) % 3 == 0) 0
            else ((doc * 5 + p * 3 + i) % 9).toInt - 4
          }
        val mk = udf { (doc: Long) =>
          val ch = (doc % 2 + 1).toInt
          val np = (doc % 4 + 3).toInt
          val rate = (8000 * (doc % 3 + 1)).toInt
          val pkts = Vorbis.encodePackets(ch, rate,
            (0 until np).map(p => codedVec(doc, ch, p)))
          if (doc % 2 == 0) Vorbis.muxOgg(pkts)
          else Mkv.writeVorbis(pkts.take(3), pkts.drop(3), rate, ch, 128)
        }
        val dec = udf { (bytes: Array[Byte], doc: Long) =>
          val d =
            if (Ogg.isOgg(bytes)) Vorbis.decodeOgg(bytes)
            else Vorbis.decode(Mkv.vorbisPackets(bytes).get)
          val ch = d.info.channels
          // dual path: direct synthesis from the closed-form spectra
          // (floor is exactly 1.0) must equal the bitstream decode
          // bit-for-bit — same float ops, so exact equality is the gate
          val w = Vorbis.window(256)
          val exp = Array.fill(ch)(
            scala.collection.mutable.ArrayBuffer.empty[Float])
          var prev: Array[Array[Float]] = null
          (0 until d.nAudioPackets).foreach { p =>
            val coded = codedVec(doc, ch, p)
            val chans = Array.fill(ch)(new Array[Float](128))
            var i = 0
            while (i < ch * 128) {
              chans(i % ch)(i / ch) = coded(i).toFloat
              i += 1
            }
            if (ch == 2) {
              var b = 0
              while (b < 128) {
                val m = chans(0)(b); val a = chans(1)(b)
                if (m > 0) {
                  if (a > 0) chans(1)(b) = m - a
                  else { chans(1)(b) = m; chans(0)(b) = m + a }
                } else {
                  if (a > 0) chans(1)(b) = m + a
                  else { chans(1)(b) = m; chans(0)(b) = m - a }
                }
                b += 1
              }
            }
            val rights = chans.map { cv =>
              val y = Vorbis.imdct(cv, 256)
              var j = 0
              while (j < 256) { y(j) *= w(j); j += 1 }
              y
            }
            if (prev != null)
              (0 until ch).foreach(j =>
                (0 until 128).foreach(k => exp(j) += prev(j)(128 + k) +
                  rights(j)(k)))
            prev = rights
          }
          val pcmOk = (0 until ch).forall(j =>
            exp(j).toArray.sameElements(d.pcm(j)))
          (d.info.channels, d.info.sampleRate, d.pcm(0).length,
            Audio.decodePcm(bytes)._2.length, d.residueSums(0),
            if (ch == 2) d.residueSums(1) else 0L, pcmOk)
        }
        val mkTone = udf { (doc: Long) =>
          val bin = (doc % 20 + 5).toInt
          val freq = (bin + 0.5) * 8000 / 256.0
          def tone(n: Int) = Array.tabulate(n)(i =>
            (0.45 * math.sin(2 * math.Pi * freq * i / 8000)).toFloat)
          val src = tone(1024) ++ Array.fill(1600)(0f) ++ tone(1024)
          val pkts = Vorbis.encodePcm(src, 8000)
          if (doc % 2 == 0) Vorbis.muxOgg(pkts)
          else Mkv.writeVorbis(pkts.take(3), pkts.drop(3), 8000, 1, 128)
        }
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("r", dec(mk(col("doc_id")), col("doc_id")))
          .withColumn("n_split",
            size(Audio.audioSplitter(mkTone(col("doc_id")), lit(0.05),
              lit(0.1))).cast("int"))
          .select(col("doc_id"), lit("vorbis").as("codec"),
            col("r._1").as("ch"), col("r._2").as("rate"),
            col("r._3").cast("long").as("n_samples"),
            col("r._4").cast("long").as("pcm16_len"),
            col("r._5").as("res_sum_l"), col("r._6").as("res_sum_r"),
            col("r._7").as("pcm_ok"), col("n_split"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, (doc_id % 2 + 1)::INT AS ch,
             |    (doc_id % 4 + 3)::INT AS np,
             |    (8000 * (doc_id % 3 + 1))::INT AS rate
             |  FROM documents WHERE doc_id < 40
             |), v AS (
             |  SELECT d.doc_id, d.ch, p.p, i.i,
             |    CASE WHEN ((i.i // 8) + p.p) % 3 = 0 THEN 0
             |         ELSE ((d.doc_id * 5 + p.p * 3 + i.i) % 9) - 4
             |    END AS val
             |  FROM d
             |  JOIN generate_series(0, 5) AS p(p) ON p.p < d.np
             |  JOIN generate_series(0, 255) AS i(i) ON i.i < d.ch * 128
             |), mono AS (
             |  SELECT doc_id, SUM(val)::BIGINT AS sl, 0::BIGINT AS sr
             |  FROM v WHERE ch = 1 GROUP BY doc_id
             |), pairs AS (
             |  SELECT doc_id, p, i // 2 AS b,
             |    SUM(CASE WHEN i % 2 = 0 THEN val ELSE 0 END) AS m,
             |    SUM(CASE WHEN i % 2 = 1 THEN val ELSE 0 END) AS a
             |  FROM v WHERE ch = 2 GROUP BY doc_id, p, i // 2
             |), coup AS (
             |  -- spec §4.3.5 inverse square-polar coupling, modeled
             |  SELECT doc_id,
             |    SUM(CASE WHEN m > 0
             |          THEN CASE WHEN a > 0 THEN m ELSE m + a END
             |          ELSE CASE WHEN a > 0 THEN m ELSE m - a END
             |        END)::BIGINT AS sl,
             |    SUM(CASE WHEN m > 0
             |          THEN CASE WHEN a > 0 THEN m - a ELSE m END
             |          ELSE CASE WHEN a > 0 THEN m + a ELSE m END
             |        END)::BIGINT AS sr
             |  FROM pairs GROUP BY doc_id
             |), sums AS (
             |  SELECT * FROM mono UNION ALL SELECT * FROM coup
             |)
             |SELECT d.doc_id, 'vorbis' AS codec, d.ch, d.rate,
             |  ((d.np - 1) * 128)::BIGINT AS n_samples,
             |  (d.ch * (d.np - 1) * 128)::BIGINT AS pcm16_len,
             |  s.sl AS res_sum_l, s.sr AS res_sum_r,
             |  -- computed Spark-side as exact dual-path PCM equality;
             |  -- hash-match forces it to equal this literal TRUE
             |  TRUE AS pcm_ok, 2::INT AS n_split
             |FROM d JOIN sums s USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin),
    ),
    QueryDef(
      "q195_jbig2",
      (s, dir) => {
        // JBIG2 generic-region decode (PDF JBIG2Decode — the other half
        // of the scanned-PDF corpus next to q189's CCITT; ITU-T T.88;
        // reference renders via pdfium `functions/document.py:488`): per
        // doc a 2-page scanned fixture built with the MQ encoder twin.
        // Page 1: diagonal-stripe pattern, template = doc%4, embedded
        // page-info + immediate lossless generic region segments; page
        // 2: repeated-row stripes under TPGDON typical prediction.
        // Images draw at exact pixel size → closed-form pixel counts
        // the oracle recomputes with modular arithmetic; extractImages
        // must decode both to PNG through the same filter chain.
        import graft.functions.{Images, Jbig2, Pdf, PdfRender}
        val mk = udf { (id: Long) =>
          val cw = (17 + id % 16).toInt
          val ch = (9 + id % 8).toInt
          val ch2 = (16 + id % 4).toInt
          val bm1 = Jbig2.Bitmap.empty(cw, ch)
          for (y <- 0 until ch; x <- 0 until cw)
            if ((x + 2 * y + id) % 7 < 3) bm1.set(x, y)
          val bm2 = Jbig2.Bitmap.empty(24, ch2)
          for (y <- 0 until ch2; x <- 2 until 22)
            if (y % 4 < 2) bm2.set(x, y)
          val b = new Pdf.PdfBuilder
          def img(bm: Jbig2.Bitmap, template: Int, tpgdon: Boolean): Int =
            b.addStream(
              "/Type /XObject /Subtype /Image " +
                s"/Width ${bm.width} /Height ${bm.height} " +
                "/ColorSpace /DeviceGray /BitsPerComponent 1 " +
                "/Filter /JBIG2Decode",
              Jbig2.writeEmbedded(bm, template, tpgdon))
          val i1 = img(bm1, (id % 4).toInt, tpgdon = false)
          val i2 = img(bm2, 0, tpgdon = true)
          b.addPage(s"q $cw 0 0 $ch 0 0 cm /I Do Q", (cw, ch),
            s"/XObject << /I $i1 0 R >>")
          b.addPage(s"q 24 0 0 $ch2 0 0 cm /I Do Q", (24, ch2),
            s"/XObject << /I $i2 0 R >>")
          b.build()
        }
        val extracted = udf { (pdf: Array[Byte]) =>
          val imgs = Pdf.extractImages(pdf)
          (imgs.count(_.format == "png"), imgs.head.width)
        }
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("pdf", mk(col("doc_id")))
          .withColumn("pages", PdfRender.renderPages(col("pdf")))
          .withColumn("ex", extracted(col("pdf")))
          .select(col("doc_id"),
            Images.countColor(element_at(col("pages"), 1)("_4"), lit(0))
              .as("p1_black"),
            Images.countColor(element_at(col("pages"), 1)("_4"),
              lit(0xffffff)).as("p1_white"),
            Images.countColor(element_at(col("pages"), 2)("_4"), lit(0))
              .as("p2_black"),
            col("ex._1").cast("long").as("n_imgs"),
            col("ex._2").cast("long").as("img1_w"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, (17 + doc_id % 16)::INT AS cw,
             |    (9 + doc_id % 8)::INT AS ch,
             |    (16 + doc_id % 4)::INT AS ch2
             |  FROM documents WHERE doc_id < 40
             |), p1 AS (
             |  SELECT d.doc_id, COUNT(*)::BIGINT AS black
             |  FROM d
             |  JOIN generate_series(0, 32) AS x(x) ON x.x < d.cw
             |  JOIN generate_series(0, 16) AS y(y) ON y.y < d.ch
             |  WHERE (x.x + 2 * y.y + d.doc_id) % 7 < 3
             |  GROUP BY d.doc_id
             |)
             |SELECT d.doc_id, p1.black AS p1_black,
             |  (d.cw * d.ch - p1.black)::BIGINT AS p1_white,
             |  ((2 * (d.ch2 // 4) + LEAST(d.ch2 % 4, 2)) * 20)::BIGINT
             |    AS p2_black,
             |  2::BIGINT AS n_imgs, d.cw::BIGINT AS img1_w
             |FROM d JOIN p1 USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin),
    ),
    QueryDef(
      "q196_stream_update",
      (s, dir) => {
        // UPDATE-mode watermarked windowed HLL — the unbounded
        // production form of q185/q191 (which gate complete-mode bounded
        // replays) on the q186 late-data machinery: four mtime-ordered
        // files, one per micro-batch; file b2 carries docs 40-49 with
        // STALE event times (b0's era). By batch 2 the 60 s watermark
        // passed those windows, so update mode must DROP every stale row
        // (watermark filtering), while — unlike append mode — trailing
        // open windows DO emit. foreachBatch captures every emission
        // with its batch id, so three laws gate as booleans: late rows
        // produce no emission after batch 0 for the early windows,
        // per-register emissions are monotone non-decreasing, and the
        // LAST emission per (window, bucket) equals the batch HLL
        // register the oracle recomputes from md5 hex digits over
        // on-time rows only. Same late-data replay as q186
        // (lateDataStage).
        import graft.operators.Hll
        val emitted =
          scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Int)]
        graft.QueryUtil.replayStream(s, lateDataStage(s, dir), "update") {
          stream =>
            val (bucket, rho) = Hll.hashCols(col("doc_id"))
            stream
              .withWatermark("ts", "60 seconds")
              .select(col("ts"), bucket.as("bucket"), rho.as("rho"))
              .groupBy(window(col("ts"), "120 seconds"), col("bucket"))
              .agg(max("rho").as("m"))
              .select(unix_timestamp(col("window.start")).as("w_start"),
                col("bucket"), col("m"))
        }(_.foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          val rows = b.collect().map(r =>
            (id, r.getLong(0), r.getInt(1), r.getInt(2)))
          emitted.synchronized { emitted ++= rows }
          ()
        })
        val all = emitted.toSeq
        val lateDropped =
          !all.exists(e => e._2 <= 1000000200L && e._1 >= 1)
        val monotone = all.groupBy(e => (e._2, e._3)).values.forall { es =>
          val ms = es.sortBy(_._1).map(_._4)
          ms.zip(ms.drop(1)).forall { case (a, b) => a <= b }
        }
        val finals = all.groupBy(e => (e._2, e._3)).map { case (k, es) =>
          (k._1, k._2, es.maxBy(_._1)._4)
        }.toSeq
        import s.implicits._
        finals.toDF("w_start", "bucket", "m")
          .groupBy("w_start")
          .agg(count(lit(1)).cast("long").as("n_buckets"),
            sum("m").cast("long").as("sum_m"),
            max("m").cast("long").as("max_m"))
          .withColumn("monotone_ok", lit(monotone))
          .withColumn("late_dropped", lit(lateDropped))
          .transform(graft.QueryUtil.orderedSmall(_, col("w_start")))
      },
      Some("""WITH ontime AS (
             |  -- stale docs 40-49 never land: update mode drops rows
             |  -- older than the watermark; unlike append mode (q186),
             |  -- EVERY on-time window appears — no emission cutoff
             |  SELECT doc_id, 1000000000 + 30 * doc_id AS ts
             |  FROM documents
             |  WHERE doc_id < 60 AND doc_id NOT BETWEEN 40 AND 49
             |), h AS (
             |  SELECT ts, md5(CAST(doc_id AS VARCHAR)) AS hx FROM ontime
             |), zt AS (
             |  SELECT ts, hx,
             |    length(regexp_extract(substr(hx, 3, 13), '^0*')) AS z
             |  FROM h
             |), br AS (
             |  SELECT (ts // 120 * 120)::BIGINT AS w_start,
             |    (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
             |      + strpos('0123456789abcdef', substr(hx, 2, 1)) - 1
             |      AS bucket,
             |    CASE WHEN z = 13 THEN 53
             |      ELSE 4 * z + CASE WHEN dv >= 8 THEN 0
             |        WHEN dv >= 4 THEN 1 WHEN dv >= 2 THEN 2 ELSE 3 END
             |        + 1 END AS rho
             |  FROM (SELECT ts, hx, z,
             |          strpos('0123456789abcdef', substr(hx, 3 + z, 1))
             |            - 1 AS dv
             |        FROM zt)
             |), regs AS (
             |  SELECT w_start, bucket, MAX(rho) AS m FROM br GROUP BY 1, 2
             |)
             |SELECT w_start, COUNT(*)::BIGINT AS n_buckets,
             |  SUM(m)::BIGINT AS sum_m, MAX(m)::BIGINT AS max_m,
             |  -- computed Spark-side from the captured per-batch
             |  -- emissions; hash-match forces them to equal TRUE
             |  TRUE AS monotone_ok, TRUE AS late_dropped
             |FROM regs GROUP BY w_start
             |ORDER BY w_start""".stripMargin),
    ),
    QueryDef(
      "q197_stream_multipass",
      (s, dir) => {
        // The pigeonhole-exact near-dup COMPOSITION gated end-to-end: one
        // stream of `Streaming.nearDupStream` keyed on four disjoint
        // 4-char signature bands, its per-band verdicts min-combined
        // (`Streaming.combineBands`); that equals the full-hamming batch
        // answer by pigeonhole (<= 3 differing chars over 4 disjoint bands
        // leaves some band identical) — the oracle recomputes simhash16
        // from md5 hex digits (q184 idiom) and takes each doc's EARLIEST
        // prior within hamming 3 via a quadratic join, so recall is
        // proven, not sampled. The corpus plants near-dup structure:
        // groups of 4 docs share 24 base tokens with one position mutated
        // per variant.
        val base = T(s, dir, "documents")
          .filter(col("doc_id") < 80)
          .withColumn("grp", (col("doc_id") / 4).cast("long") * 4)
        val toks = T(s, dir, "documents")
          .filter(col("doc_id") < 80 && col("doc_id") % 4 === 0)
          .select(col("doc_id").as("grp"), expr(
            """filter(transform(
              |  slice(split(trim(lower(text)), '\\s+'), 1, 24),
              |  t -> regexp_replace(t, '[^a-z0-9]', '')), x -> x != '')
              |""".stripMargin).as("toks"))
        val staged = base.join(toks, "grp")
          .withColumn("p", (col("doc_id") % 4).cast("int"))
          .select(col("doc_id"), expr(
            """array_join(CASE WHEN p = 0 THEN toks ELSE
              |  concat(slice(toks, 1, p * 4 - 1), array('mutx'),
              |         slice(toks, p * 4 + 1,
              |               greatest(size(toks) - p * 4, 0)))
              |END, ' ')""".stripMargin).as("text"))
        val stage = graft.QueryUtil.stageStreamFiles(staged,
          (col("doc_id") / 20).cast("int"), 4, "q197_in",
          1_200_000_000_000L)
        val verdicts = graft.QueryUtil.replayToMemory(s, stage)(
          graft.streaming.Streaming.nearDupStream(_, "doc_id", "text",
            maxHamming = 3, bandLen = 4, bands = 4).toDF())
        verdictRows(graft.streaming.Streaming.combineBands(verdicts))
      },
      Some(raw"""WITH t AS (
             |  SELECT doc_id AS grp, list_filter(list_transform(
             |      list_slice(string_split_regex(trim(lower(text)), '\s+'),
             |                 1, 24),
             |      t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
             |    x -> x <> '') AS toks
             |  FROM documents WHERE doc_id < 80 AND doc_id % 4 = 0
             |), st AS (
             |  SELECT d.doc_id,
             |    CASE WHEN d.doc_id % 4 = 0 THEN t.toks
             |         ELSE list_concat(list_concat(
             |           t.toks[1:(d.doc_id % 4) * 4 - 1], ['mutx']),
             |           t.toks[(d.doc_id % 4) * 4 + 1:len(t.toks)])
             |    END AS toks
             |  FROM documents d
             |  JOIN t ON t.grp = (d.doc_id // 4) * 4
             |  WHERE d.doc_id < 80
             |), ${simhashSql("toks")}, prior AS (
             |  -- earliest prior within hamming 3 — the full-hamming
             |  -- batch answer the 4-band composition must equal
             |  SELECT a.doc_id, MIN(b.doc_id) AS hit
             |  FROM sg a JOIN sg b ON b.doc_id < a.doc_id
             |  WHERE (SELECT SUM(CASE WHEN substr(a.sig, g.i::INT, 1)
             |                         <> substr(b.sig, g.i::INT, 1)
             |                    THEN 1 ELSE 0 END)
             |         FROM generate_series(1, 16) AS g(i)) <= 3
             |  GROUP BY a.doc_id
             |)
             |SELECT s.doc_id, s.sig, p.hit IS NOT NULL AS is_dup,
             |  coalesce(p.hit, -1)::BIGINT AS dup_of
             |FROM sg s LEFT JOIN prior p ON p.doc_id = s.doc_id
             |ORDER BY s.doc_id""".stripMargin),
    ),
    QueryDef(
      "q198_jbig2_text",
      (s, dir) => {
        // JBIG2 symbol dictionaries + text regions (ITU-T T.88 §6.5 +
        // §6.4 — the segments real scanner output predominantly uses;
        // q195 covers generic regions only) end-to-end through the PDF
        // surface: per doc a 2-page scanned fixture. Page 1: a 3-glyph
        // font placed 8 times across two strips, the dictionary carried
        // in a separate /JBIG2Globals stream (the PDF sharing form);
        // page 2: an MMR (T.6-coded) generic region. Glyph patterns and
        // placements are closed forms of doc_id the oracle recomputes;
        // strip2_black (pixels below the first strip) proves PLACEMENT,
        // not just total ink. extractImages must re-encode both to PNG
        // through the same filter chain.
        import graft.functions.{Images, Jbig2, Pdf, PdfRender}
        val mk = udf { (id: Long) =>
          val h0 = (6 + id % 3).toInt
          def glyph(g: Int): Jbig2.Bitmap = {
            val w = (4 + (id + g) % 3).toInt
            val h = h0 + (if (g == 2) 2 else 0)
            val bm = Jbig2.Bitmap.empty(w, h)
            for (y <- 0 until h; x <- 0 until w)
              if ((x + 2 * y + g + id) % 5 < 2) bm.set(x, y)
            bm
          }
          val syms = Seq(glyph(0), glyph(1), glyph(2))
          val insts = (0 until 8).map(i =>
            Jbig2.TextInstance(i % 3, (i % 4) * 8, (i / 4) * (h0 + 4)))
          val pageH = 2 * h0 + 6
          val (data, globals) =
            Jbig2.writeEmbeddedText(32, pageH, syms, insts,
              splitGlobals = true)
          // placement proof: black ink strictly below the first strip
          val (decoded, _) = Jbig2.decodeEmbedded(data, globals)
          var strip2 = 0L
          for (y <- h0 + 4 until decoded.height; x <- 0 until decoded.width)
            if (decoded.get(x, y) == 1) strip2 += 1
          val ch2 = (16 + id % 4).toInt
          val bm2 = Jbig2.Bitmap.empty(24, ch2)
          for (y <- 0 until ch2; x <- 2 until 22)
            if (y % 4 < 2) bm2.set(x, y)
          val b = new Pdf.PdfBuilder
          val gRef = b.addStream("", globals)
          val i1 = b.addStream(
            "/Type /XObject /Subtype /Image " +
              s"/Width 32 /Height $pageH " +
              "/ColorSpace /DeviceGray /BitsPerComponent 1 " +
              "/Filter /JBIG2Decode " +
              s"/DecodeParms << /JBIG2Globals $gRef 0 R >>", data)
          val i2 = b.addStream(
            "/Type /XObject /Subtype /Image " +
              s"/Width 24 /Height $ch2 " +
              "/ColorSpace /DeviceGray /BitsPerComponent 1 " +
              "/Filter /JBIG2Decode",
            Jbig2.writeEmbedded(bm2, mmr = true))
          b.addPage(s"q 32 0 0 $pageH 0 0 cm /I Do Q", (32, pageH),
            s"/XObject << /I $i1 0 R >>")
          b.addPage(s"q 24 0 0 $ch2 0 0 cm /I Do Q", (24, ch2),
            s"/XObject << /I $i2 0 R >>")
          (b.build(), strip2)
        }
        val extracted = udf { (pdf: Array[Byte]) =>
          val imgs = Pdf.extractImages(pdf)
          (imgs.count(_.format == "png"), imgs.head.width)
        }
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("built", mk(col("doc_id")))
          .withColumn("pages", PdfRender.renderPages(col("built")("_1")))
          .withColumn("ex", extracted(col("built")("_1")))
          .select(col("doc_id"),
            Images.countColor(element_at(col("pages"), 1)("_4"), lit(0))
              .as("p1_black"),
            Images.countColor(element_at(col("pages"), 1)("_4"),
              lit(0xffffff)).as("p1_white"),
            col("built")("_2").cast("long").as("strip2_black"),
            Images.countColor(element_at(col("pages"), 2)("_4"), lit(0))
              .as("p2_black"),
            col("ex._1").cast("long").as("n_imgs"),
            col("ex._2").cast("long").as("img1_w"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, (6 + doc_id % 3)::INT AS h0,
             |    (16 + doc_id % 4)::INT AS ch2
             |  FROM documents WHERE doc_id < 40
             |), gb AS (
             |  -- per-glyph black counts from the closed-form pattern
             |  SELECT d.doc_id, g.g, COUNT(*)::BIGINT AS black
             |  FROM d
             |  CROSS JOIN generate_series(0, 2) AS g(g)
             |  JOIN generate_series(0, 6) AS x(x)
             |    ON x.x < 4 + (d.doc_id + g.g) % 3
             |  JOIN generate_series(0, 10) AS y(y)
             |    ON y.y < d.h0 + CASE WHEN g.g = 2 THEN 2 ELSE 0 END
             |  WHERE (x.x + 2 * y.y + g.g + d.doc_id) % 5 < 2
             |  GROUP BY d.doc_id, g.g
             |), sums AS (
             |  -- 8 instances cycle glyphs 0..2: strip 1 gets glyphs
             |  -- 0,1,2,0 and strip 2 gets 1,2,0,1; placements disjoint
             |  SELECT doc_id,
             |    SUM(CASE g WHEN 2 THEN 2 * black ELSE 3 * black END)
             |      AS p1_black,
             |    SUM(CASE g WHEN 1 THEN 2 * black ELSE black END)
             |      AS strip2_black
             |  FROM gb GROUP BY doc_id
             |)
             |SELECT d.doc_id, s.p1_black::BIGINT AS p1_black,
             |  (32 * (2 * d.h0 + 6) - s.p1_black)::BIGINT AS p1_white,
             |  s.strip2_black::BIGINT AS strip2_black,
             |  ((2 * (d.ch2 // 4) + LEAST(d.ch2 % 4, 2)) * 20)::BIGINT
             |    AS p2_black,
             |  2::BIGINT AS n_imgs, 32::BIGINT AS img1_w
             |FROM d JOIN sums s USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin),
    ),
    QueryDef(
      "q199_stream_restart",
      (s, dir) => {
        // Checkpoint RESTART gate — the production failure mode state
        // stores exist for, which q184-q197 never exercise: the q184
        // corpus/operator (exact-signature streaming near-dup, SQL
        // oracle reproduces it bit-for-bit) run as TWO query incarnations
        // sharing one checkpoint and one transactional parquet sink
        // (QueryUtil.restartParity). Run 1 consumes files b00-b01 (docs
        // 0-19) and stops; files b02-b05 then land and run 2 RESUMES from
        // the committed offsets with the RELOADED state store. The planted
        // pair (18, 20) crosses the restart: doc 20's verdict can only
        // come from state recovered off disk. Gates: the combined sink
        // equals an uninterrupted control run (fresh checkpoint, all six
        // files) row-for-row, and both equal the batch SQL oracle.
        val (restarted, ok) = graft.QueryUtil.restartParity(s, s,
          q184Corpus.stage(s, dir), q184Corpus.rows)(exactDups)
        verdictRows(restarted, lit(ok).as("restart_ok"))
      },
      Some(q184Corpus.oracle("restart_ok")),
    ),
    QueryDef(
      "q200_jpx",
      (s, dir) => {
        // JPEG 2000 (PDF JPXDecode — the last named PDF image-codec
        // skip; reference decodes via pdfium): per doc a 2-page
        // fixture through the in-repo T.800 baseline encoder twin.
        // Page 1: grayscale modular pattern, doc-varied geometry,
        // decomposition levels and code-block size (multiple code
        // blocks + tag trees at cbExp 2-3); page 2: RGB halves under
        // the reversible color transform. Lossless 5/3 means pixel
        // counts are CLOSED FORMS of doc_id the oracle recomputes;
        // extractImages must re-encode both to PNG.
        import graft.functions.{Images, Jpeg2000, Pdf, PdfRender}
        val mk = udf { (id: Long) =>
          val w1 = (24 + id % 8).toInt
          val h1 = (14 + id % 5).toInt
          val gray = Array.tabulate(w1 * h1) { i =>
            if ((i % w1 + 3 * (i / w1) + id) % 7 < 3) 0 else 255
          }
          val cs1 = Jpeg2000.encode(Array(gray), w1, h1, 8,
            levels = 2 + (id % 3).toInt, cbExp = 2 + (id % 4).toInt)
          val h2 = (10 + id % 4).toInt
          val planes = Array(
            Array.tabulate(16 * h2)(i => if (i % 16 < 8) 255 else 0),
            Array.fill(16 * h2)(0),
            Array.tabulate(16 * h2)(i => if (i % 16 < 8) 0 else 255))
          val cs2 = Jpeg2000.encode(planes, 16, h2, 8, levels = 1,
            cbExp = 4, useRct = true)
          val b = new Pdf.PdfBuilder
          val i1 = b.addStream(
            "/Type /XObject /Subtype /Image " +
              s"/Width $w1 /Height $h1 /ColorSpace /DeviceGray " +
              "/BitsPerComponent 8 /Filter /JPXDecode", cs1)
          val i2 = b.addStream(
            "/Type /XObject /Subtype /Image " +
              s"/Width 16 /Height $h2 /ColorSpace /DeviceRGB " +
              "/BitsPerComponent 8 /Filter /JPXDecode", cs2)
          b.addPage(s"q $w1 0 0 $h1 0 0 cm /I Do Q", (w1, h1),
            s"/XObject << /I $i1 0 R >>")
          b.addPage(s"q 16 0 0 $h2 0 0 cm /I Do Q", (16, h2),
            s"/XObject << /I $i2 0 R >>")
          b.build()
        }
        val extracted = udf { (pdf: Array[Byte]) =>
          Pdf.extractImages(pdf).count(_.format == "png")
        }
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("pdf", mk(col("doc_id")))
          .withColumn("pages", PdfRender.renderPages(col("pdf")))
          .select(col("doc_id"),
            Images.countColor(element_at(col("pages"), 1)("_4"), lit(0))
              .as("p1_black"),
            Images.countColor(element_at(col("pages"), 1)("_4"),
              lit(0xffffff)).as("p1_white"),
            Images.countColor(element_at(col("pages"), 2)("_4"),
              lit(0xff0000)).as("p2_red"),
            Images.countColor(element_at(col("pages"), 2)("_4"),
              lit(0x0000ff)).as("p2_blue"),
            extracted(col("pdf")).cast("long").as("n_imgs"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, (24 + doc_id % 8)::INT AS w1,
             |    (14 + doc_id % 5)::INT AS h1, (10 + doc_id % 4)::INT AS h2
             |  FROM documents WHERE doc_id < 40
             |), p1 AS (
             |  SELECT d.doc_id, COUNT(*)::BIGINT AS black
             |  FROM d
             |  JOIN generate_series(0, 31) AS x(x) ON x.x < d.w1
             |  JOIN generate_series(0, 18) AS y(y) ON y.y < d.h1
             |  WHERE (x.x + 3 * y.y + d.doc_id) % 7 < 3
             |  GROUP BY d.doc_id
             |)
             |SELECT d.doc_id, p1.black AS p1_black,
             |  (d.w1 * d.h1 - p1.black)::BIGINT AS p1_white,
             |  (8 * d.h2)::BIGINT AS p2_red, (8 * d.h2)::BIGINT AS p2_blue,
             |  2::BIGINT AS n_imgs
             |FROM d JOIN p1 USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin),
    ),
    QueryDef(
      "q201_jbig2_refine",
      (s, dir) => {
        // JBIG2 generic refinement (T.88 §6.3) end-to-end — the decode
        // path real scanner output uses for touched-up glyphs: a
        // refinement/aggregate symbol dictionary (§6.5.8.2) CHAINED
        // over a generic dictionary inside /JBIG2Globals, plus an
        // inline refined text instance (§6.4.11), rendered through the
        // PDF surface. Every drawn bitmap is a closed form of doc_id
        // the oracle recomputes — counts match ONLY if
        // decodeRefinement reproduces each target bit-exactly;
        // strip2_black proves placement below the first strip.
        import graft.functions.{Images, Jbig2, Pdf, PdfRender}
        val mk = udf { (id: Long) =>
          val h0 = (6 + id % 3).toInt; val h1 = h0 + 2
          val w0 = (4 + id % 3).toInt; val w1 = (5 + id % 2).toInt
          def bm(w: Int, h: Int)(f: (Int, Int) => Boolean): Jbig2.Bitmap = {
            val b = Jbig2.Bitmap.empty(w, h)
            for (y <- 0 until h; x <- 0 until w) if (f(x, y)) b.set(x, y)
            b
          }
          val g0 = bm(w0, h0)((x, y) => (x + 2 * y + id) % 5 < 2)
          val g1 = bm(w1, h1)((x, y) => (2 * x + y + id) % 5 < 2)
          // dictionary-refined symbol: its own closed form, so the
          // oracle needs no knowledge of the refinement prediction
          val r0 = bm(w0 + 1, h0)((x, y) => (x + y + id) % 3 == 0)
          // inline-refined instance (reshapes g1 by +1 in each dim)
          val v = bm(w1 + 1, h1 + 1)((x, y) => (2 * x + y + id) % 4 < 2)
          val pageH = 2 * h0 + 8
          val insts = Seq(
            Jbig2.TextInstance(0, 0, 0), Jbig2.TextInstance(2, 8, 0),
            Jbig2.TextInstance(1, 18, 0),
            Jbig2.TextInstance(1, 2, h1 + 2, refined = Some(v)),
            Jbig2.TextInstance(0, 14, h1 + 2))
          val (data, globals) = Jbig2.writeEmbeddedText(40, pageH,
            Seq(g0, g1), insts, splitGlobals = true, refined = Seq((0, r0)))
          val (decoded, notes) = Jbig2.decodeEmbedded(data, globals)
          require(notes.isEmpty, notes.mkString(","))
          var strip2 = 0L
          for (y <- h1 + 2 until decoded.height; x <- 0 until decoded.width)
            if (decoded.get(x, y) == 1) strip2 += 1
          val b = new Pdf.PdfBuilder
          val gRef = b.addStream("", globals)
          val img = b.addStream(
            "/Type /XObject /Subtype /Image " +
              s"/Width 40 /Height $pageH " +
              "/ColorSpace /DeviceGray /BitsPerComponent 1 " +
              "/Filter /JBIG2Decode " +
              s"/DecodeParms << /JBIG2Globals $gRef 0 R >>", data)
          b.addPage(s"q 40 0 0 $pageH 0 0 cm /I Do Q", (40, pageH),
            s"/XObject << /I $img 0 R >>")
          (b.build(), strip2)
        }
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("built", mk(col("doc_id")))
          .withColumn("pages", PdfRender.renderPages(col("built")("_1")))
          .select(col("doc_id"),
            Images.countColor(element_at(col("pages"), 1)("_4"), lit(0))
              .as("p1_black"),
            Images.countColor(element_at(col("pages"), 1)("_4"),
              lit(0xffffff)).as("p1_white"),
            col("built")("_2").cast("long").as("strip2_black"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, (6 + doc_id % 3)::INT AS h0,
             |    (8 + doc_id % 3)::INT AS h1,
             |    (4 + doc_id % 3)::INT AS w0, (5 + doc_id % 2)::INT AS w1
             |  FROM documents WHERE doc_id < 40
             |), g0 AS (
             |  SELECT d.doc_id, COUNT(*)::BIGINT AS c FROM d
             |  JOIN generate_series(0, 6) AS x(x) ON x.x < d.w0
             |  JOIN generate_series(0, 8) AS y(y) ON y.y < d.h0
             |  WHERE (x.x + 2 * y.y + d.doc_id) % 5 < 2 GROUP BY d.doc_id
             |), g1 AS (
             |  SELECT d.doc_id, COUNT(*)::BIGINT AS c FROM d
             |  JOIN generate_series(0, 6) AS x(x) ON x.x < d.w1
             |  JOIN generate_series(0, 10) AS y(y) ON y.y < d.h1
             |  WHERE (2 * x.x + y.y + d.doc_id) % 5 < 2 GROUP BY d.doc_id
             |), r0 AS (
             |  SELECT d.doc_id, COUNT(*)::BIGINT AS c FROM d
             |  JOIN generate_series(0, 7) AS x(x) ON x.x <= d.w0
             |  JOIN generate_series(0, 8) AS y(y) ON y.y < d.h0
             |  WHERE (x.x + y.y + d.doc_id) % 3 = 0 GROUP BY d.doc_id
             |), v AS (
             |  SELECT d.doc_id, COUNT(*)::BIGINT AS c FROM d
             |  JOIN generate_series(0, 6) AS x(x) ON x.x <= d.w1
             |  JOIN generate_series(0, 11) AS y(y) ON y.y <= d.h1
             |  WHERE (2 * x.x + y.y + d.doc_id) % 4 < 2 GROUP BY d.doc_id
             |)
             |SELECT d.doc_id,
             |  (2 * g0.c + g1.c + r0.c + v.c)::BIGINT AS p1_black,
             |  (40 * (2 * d.h0 + 8)
             |    - (2 * g0.c + g1.c + r0.c + v.c))::BIGINT AS p1_white,
             |  (g0.c + v.c)::BIGINT AS strip2_black
             |FROM d JOIN g0 USING (doc_id) JOIN g1 USING (doc_id)
             |JOIN r0 USING (doc_id) JOIN v USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin),
    ),
    QueryDef(
      "q202_jbig2_halftone",
      (s, dir) => {
        // JBIG2 halftone regions (T.88 §6.6) + pattern dictionaries
        // (§6.7) — the remaining region family: per doc 4 closed-form
        // P×P patterns (2 gray-coded bitplanes over one shared MQ
        // coder), a 6×4 grid whose index is a closed form of
        // (mg, ng, doc_id), the dictionary carried in /JBIG2Globals,
        // rendered through the PDF surface. p1_black matches ONLY if
        // every plane gray-decodes and every cell indexes the right
        // pattern; row0_black pins the grid GEOMETRY (row 0 cells land
        // in rows 0..P-1), not just totals.
        import graft.functions.{Images, Jbig2, Pdf, PdfRender}
        val mk = udf { (id: Long) =>
          val pSz = (4 + id % 2).toInt
          def pat(k: Int): Jbig2.Bitmap = {
            val b = Jbig2.Bitmap.empty(pSz, pSz)
            for (y <- 0 until pSz; x <- 0 until pSz)
              if ((x + 2 * y + k + id) % 5 < 2) b.set(x, y)
            b
          }
          val pats = (0 until 4).map(pat)
          val grid = Array.tabulate(4, 6)((mg, ng) =>
            ((mg * 2 + ng + id) % 4).toInt)
          val w = 6 * pSz; val h = 4 * pSz
          val (data, globals) =
            Jbig2.writeEmbeddedHalftone(w, h, pats, grid,
              splitGlobals = true)
          val (decoded, notes) = Jbig2.decodeEmbedded(data, globals)
          require(notes.isEmpty, notes.mkString(","))
          var row0 = 0L
          for (y <- 0 until pSz; x <- 0 until decoded.width)
            if (decoded.get(x, y) == 1) row0 += 1
          val b = new Pdf.PdfBuilder
          val gRef = b.addStream("", globals)
          val img = b.addStream(
            "/Type /XObject /Subtype /Image " +
              s"/Width $w /Height $h " +
              "/ColorSpace /DeviceGray /BitsPerComponent 1 " +
              "/Filter /JBIG2Decode " +
              s"/DecodeParms << /JBIG2Globals $gRef 0 R >>", data)
          b.addPage(s"q $w 0 0 $h 0 0 cm /I Do Q", (w, h),
            s"/XObject << /I $img 0 R >>")
          (b.build(), row0)
        }
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("built", mk(col("doc_id")))
          .withColumn("pages", PdfRender.renderPages(col("built")("_1")))
          .select(col("doc_id"),
            Images.countColor(element_at(col("pages"), 1)("_4"), lit(0))
              .as("p1_black"),
            Images.countColor(element_at(col("pages"), 1)("_4"),
              lit(0xffffff)).as("p1_white"),
            col("built")("_2").cast("long").as("row0_black"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, (4 + doc_id % 2)::INT AS p
             |  FROM documents WHERE doc_id < 40
             |), pc AS (
             |  -- per-pattern black counts from the closed form
             |  SELECT d.doc_id, k.k, COUNT(*)::BIGINT AS c
             |  FROM d
             |  CROSS JOIN generate_series(0, 3) AS k(k)
             |  JOIN generate_series(0, 4) AS x(x) ON x.x < d.p
             |  JOIN generate_series(0, 4) AS y(y) ON y.y < d.p
             |  WHERE (x.x + 2 * y.y + k.k + d.doc_id) % 5 < 2
             |  GROUP BY d.doc_id, k.k
             |), cells AS (
             |  SELECT d.doc_id, mg.mg, ng.ng,
             |    (mg.mg * 2 + ng.ng + d.doc_id) % 4 AS idx
             |  FROM d
             |  CROSS JOIN generate_series(0, 3) AS mg(mg)
             |  CROSS JOIN generate_series(0, 5) AS ng(ng)
             |), sums AS (
             |  SELECT c.doc_id,
             |    SUM(pc.c)::BIGINT AS p1_black,
             |    SUM(CASE WHEN c.mg = 0 THEN pc.c ELSE 0 END)::BIGINT
             |      AS row0_black
             |  FROM cells c
             |  JOIN pc ON pc.doc_id = c.doc_id AND pc.k = c.idx
             |  GROUP BY c.doc_id
             |)
             |SELECT d.doc_id, s.p1_black,
             |  (24 * d.p * d.p - s.p1_black)::BIGINT AS p1_white,
             |  s.row0_black
             |FROM d JOIN sums s USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin),
    ),
    QueryDef(
      "q203_stream_rocksdb",
      (s, dir) => {
        // RocksDB state store gate — the PRODUCTION streaming backend
        // at scale (HDFSBackedStateStoreProvider keeps every key on the
        // executor heap; a 100 TB dedup state lives in RocksDB with
        // changelog checkpointing). The q184 operator (exact-signature
        // streaming near-dup) runs under RocksDB + changelog
        // checkpointing as TWO incarnations over one checkpoint — run 1
        // sees docs 0-19, the planted pair (18, 21) crosses the restart
        // so doc 21's verdict can only come from RocksDB state recovered
        // off the changelog — then an HDFS-provider control run from
        // scratch must match row-for-row (backend parity), and both
        // must equal the batch SQL oracle.
        //
        // The RocksDB incarnations run on a CHILD session carrying the
        // provider + changelog confs — session confs are session-scoped,
        // so the shared session is never mutated and the HDFS-provider
        // control can run CONCURRENTLY with incarnation 2.
        // newSession() inherits only BUILDER-level confs; runtime overrides
        // set on `s` after session creation would silently diverge between
        // the RocksDB incarnations (s2) and the HDFS control (s) — copy
        // the result-affecting runtime confs across explicitly (timezone,
        // AQE, session extensions are builder-level in every harness
        // session today; the copies below keep that true if one moves).
        val s2 = s.newSession()
        Seq("spark.sql.session.timeZone", "spark.sql.adaptive.enabled")
          .foreach(k => s.conf.getOption(k).foreach(s2.conf.set(k, _)))
        s2.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution." +
            "streaming.state.RocksDBStateStoreProvider")
        s2.conf.set("spark.sql.streaming.stateStore.rocksdb." +
          "changelogCheckpointing.enabled", "true")
        val (restarted, ok) = graft.QueryUtil.restartParity(s, s2,
          q203Corpus.stage(s, dir), q203Corpus.rows)(exactDups)
        verdictRows(restarted, lit(ok).as("rocksdb_ok"))
      },
      Some(q203Corpus.oracle("rocksdb_ok")),
    ),
    QueryDef(
      "q204_jpx_tiled",
      (s, dir) => {
        // Multi-tile JPEG 2000 (T.800 tile grid — how real encoders
        // bound memory on large scans; q200 covers single-tile only):
        // per doc a grayscale page on a doc-varied ragged tile grid
        // (edge tiles narrower/shorter), each tile an independent
        // DWT/packet space, rendered through the PDF JPXDecode surface.
        // Lossless 5/3 means pixel counts are closed forms; tiles_n is
        // the grid arithmetic; roundtrip_ok directly compares the
        // decoded planes to the source pattern (hash-forced TRUE).
        import graft.functions.{Images, Jpeg2000, Pdf, PdfRender}
        val mk = udf { (id: Long) =>
          val w = (30 + id % 6).toInt; val h = (20 + id % 4).toInt
          val tw = (11 + id % 3).toInt; val th = (8 + id % 2).toInt
          val gray = Array.tabulate(w * h) { i =>
            if ((2 * (i % w) + i / w + id) % 7 < 3) 0 else 255
          }
          val cs = Jpeg2000.encodeTiled(Array(gray), w, h, 8,
            levels = 2, tileW = tw, tileH = th, cbExp = 3)
          val dec = Jpeg2000.decode(cs)
          val ok = dec.width == w && dec.height == h &&
            dec.comps.head.sameElements(gray)
          val tilesN = (((w + tw - 1) / tw) * ((h + th - 1) / th)).toLong
          val b = new Pdf.PdfBuilder
          val img = b.addStream(
            "/Type /XObject /Subtype /Image " +
              s"/Width $w /Height $h /ColorSpace /DeviceGray " +
              "/BitsPerComponent 8 /Filter /JPXDecode", cs)
          b.addPage(s"q $w 0 0 $h 0 0 cm /I Do Q", (w, h),
            s"/XObject << /I $img 0 R >>")
          (b.build(), ok, tilesN)
        }
        val extracted = udf { (pdf: Array[Byte]) =>
          Pdf.extractImages(pdf).count(_.format == "png")
        }
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("built", mk(col("doc_id")))
          .withColumn("pages", PdfRender.renderPages(col("built")("_1")))
          .select(col("doc_id"),
            Images.countColor(element_at(col("pages"), 1)("_4"), lit(0))
              .as("p1_black"),
            Images.countColor(element_at(col("pages"), 1)("_4"),
              lit(0xffffff)).as("p1_white"),
            col("built")("_2").as("roundtrip_ok"),
            extracted(col("built")("_1")).cast("long").as("n_imgs"),
            col("built")("_3").as("tiles_n"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, (30 + doc_id % 6)::INT AS w,
             |    (20 + doc_id % 4)::INT AS h,
             |    (11 + doc_id % 3)::INT AS tw, (8 + doc_id % 2)::INT AS th
             |  FROM documents WHERE doc_id < 40
             |), p1 AS (
             |  SELECT d.doc_id, COUNT(*)::BIGINT AS black
             |  FROM d
             |  JOIN generate_series(0, 35) AS x(x) ON x.x < d.w
             |  JOIN generate_series(0, 23) AS y(y) ON y.y < d.h
             |  WHERE (2 * x.x + y.y + d.doc_id) % 7 < 3
             |  GROUP BY d.doc_id
             |)
             |SELECT d.doc_id, p1.black AS p1_black,
             |  (d.w * d.h - p1.black)::BIGINT AS p1_white,
             |  TRUE AS roundtrip_ok, 1::BIGINT AS n_imgs,
             |  (((d.w + d.tw - 1) // d.tw)
             |    * ((d.h + d.th - 1) // d.th))::BIGINT AS tiles_n
             |FROM d JOIN p1 USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin),
    ),
    QueryDef(
      "q205_pdf_mesh",
      (s, dir) => {
        // Mesh + function shadings (ISO 32000-1 §8.7.4.5.5-8 types
        // 1/4/6 — Illustrator-class gradient meshes; q192 covers only
        // the axial/radial types): per doc three pages with
        // INTEGER-EXACT coverage oracles. Page 1: a flat free-form
        // triangle mesh whose leg lengths (a, a+3) make a+b odd, so no
        // pixel center ever lands exactly on the hypotenuse — the
        // painted count is pure integer arithmetic. Page 2: a flat
        // Coons patch square (straight edges at thirds). Page 3: a
        // type-1 PostScript-function shading painting exactly its
        // /Domain image, leaving a closed-form white strip.
        import graft.functions.{Images, Pdf, PdfRender}
        val mk = udf { (id: Long) =>
          val a = (10 + id % 5).toInt; val bb = a + 3
          val w1 = new PdfRender.MeshBitWriter
          def vtx(x: Int, y: Int): Unit = {
            w1.bits(0L, 8); w1.bits(x.toLong, 16); w1.bits(y.toLong, 16)
            w1.bits(255L, 8); w1.bits(0L, 8); w1.bits(0L, 8) // red
            w1.align()
          }
          vtx(0, 0); vtx(a, 0); vtx(0, bb)
          val sSq = (12 + id % 4).toInt
          val w2 = new PdfRender.MeshBitWriter
          w2.bits(0L, 8)
          val t = sSq // straight-edge square via control points at thirds
          Seq((0, 0), (0, t / 3), (0, 2 * t / 3), (0, t), (t / 3, t),
            (2 * t / 3, t), (t, t), (t, 2 * t / 3), (t, t / 3), (t, 0),
            (2 * t / 3, 0), (t / 3, 0)).foreach { case (x, y) =>
            w2.bits(x.toLong, 16); w2.bits(y.toLong, 16)
          }
          (0 until 4).foreach { _ => // flat blue corners
            w2.bits(0L, 8); w2.bits(0L, 8); w2.bits(255L, 8)
          }
          w2.align()
          val d = (16 + id % 4).toInt
          val b = new Pdf.PdfBuilder
          val meshCommon = "/ColorSpace /DeviceRGB /BitsPerCoordinate 16 " +
            "/BitsPerComponent 8 /BitsPerFlag 8 " +
            "/Decode [0 65535 0 65535 0 1 0 1 0 1] "
          val sh1 = b.addStream("/ShadingType 4 " + meshCommon, w1.bytes)
          val sh2 = b.addStream("/ShadingType 6 " + meshCommon, w2.bytes)
          val fn = b.addStream(
            "/FunctionType 4 /Domain [0 1 0 1] /Range [0 1 0 1 0 1]",
            "{ 0 }".getBytes("ISO-8859-1"))
          val sh3 = b.addObj(
            "<< /ShadingType 1 /ColorSpace /DeviceRGB " +
              s"/Matrix [$d 0 0 $d 0 0] /Function $fn 0 R >>")
          b.addPage("/S1 sh", (a, bb), s"/Shading << /S1 $sh1 0 R >>")
          b.addPage("/S2 sh", (sSq, sSq), s"/Shading << /S2 $sh2 0 R >>")
          b.addPage("/S3 sh", (d + 6, d), s"/Shading << /S3 $sh3 0 R >>")
          b.build()
        }
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("pdf", mk(col("doc_id")))
          .withColumn("pages", PdfRender.renderPages(col("pdf")))
          .select(col("doc_id"),
            Images.countColor(element_at(col("pages"), 1)("_4"),
              lit(0xff0000)).as("tri_red"),
            Images.countColor(element_at(col("pages"), 2)("_4"),
              lit(0x0000ff)).as("sq_blue"),
            Images.countColor(element_at(col("pages"), 3)("_4"),
              lit(0xffffff)).as("fn_white"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, (10 + doc_id % 5)::INT AS a,
             |    (13 + doc_id % 5)::INT AS b,
             |    (12 + doc_id % 4)::INT AS sq, (16 + doc_id % 4)::INT AS fd
             |  FROM documents WHERE doc_id < 40
             |), tri AS (
             |  -- pixel centers strictly inside the right triangle with
             |  -- legs (a, b): (2x+1)b + (2y+1)a < 2ab; a+b odd means no
             |  -- center ever sits exactly on the hypotenuse
             |  SELECT d.doc_id, COUNT(*)::BIGINT AS c
             |  FROM d
             |  JOIN generate_series(0, 14) AS x(x) ON x.x < d.a
             |  JOIN generate_series(0, 17) AS y(y) ON y.y < d.b
             |  WHERE (2 * x.x + 1) * d.b + (2 * y.y + 1) * d.a < 2 * d.a * d.b
             |  GROUP BY d.doc_id
             |)
             |SELECT d.doc_id, tri.c AS tri_red,
             |  (d.sq * d.sq)::BIGINT AS sq_blue,
             |  (6 * d.fd)::BIGINT AS fn_white
             |FROM d JOIN tri USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin),
    ),
    QueryDef(
      "q206_jpx_advanced",
      (s, dir) => {
        // JPEG 2000 real-encoder forms (T.800 — what Kakadu/OpenJPEG
        // output in scanned PDFs actually uses beyond the q200/q204
        // baseline): per doc two pages. Page 1: grayscale on a ragged
        // tile grid with MULTIPLE TILE-PARTS per tile (TPsot 0..n-1)
        // and SELECTIVE ARITHMETIC BYPASS (raw SPP/MRP segments from
        // the 5th bitplane, per-segment lengths in the packet header).
        // Page 2: RGB with PER-COMPONENT coding via COC/QCC markers
        // (decomposition levels 2/0/3, code-block exponents 3/5/4,
        // bypass on the red component only). Lossless 5/3 keeps pixel
        // counts closed forms; forms_ok asserts the codestream REALLY
        // carries TPsot>0, COC, QCC and the bypass style bit (so the
        // gate cannot silently degrade to the baseline form), and
        // roundtrip_ok compares decoded planes to the source pattern
        // (both hash-forced TRUE in the oracle).
        import graft.functions.{Images, Jpeg2000, Pdf, PdfRender}
        val mk = udf { (id: Long) =>
          val w1 = (32 + id % 6).toInt; val h1 = (22 + id % 4).toInt
          val tw = (13 + id % 3).toInt; val th = (9 + id % 2).toInt
          val nParts = (2 + id % 2).toInt
          val gray = Array.tabulate(w1 * h1) { i =>
            if ((3 * (i % w1) + i / w1 + id) % 8 < 3) 0 else 255
          }
          val cs1 = Jpeg2000.encodeAdvanced(Array(gray), w1, h1, 8,
            Array(2), Array(3), Array(true), tw, th, nParts)
          val h2 = (12 + id % 4).toInt
          val planes = Array(
            Array.tabulate(18 * h2)(i => if (i % 18 < 9) 255 else 0),
            Array.fill(18 * h2)(0),
            Array.tabulate(18 * h2)(i => if (i % 18 < 9) 0 else 255))
          val cs2 = Jpeg2000.encodeAdvanced(planes, 18, h2, 8,
            Array(2, 0, 3), Array(3, 5, 4), Array(true, false, false))
          // structural assertions on the emitted codestreams: TPsot>0
          // tile-parts on page 1; COC+QCC+bypass-style on page 2
          def hdrMarkers(cs: Array[Byte]): (Int, Int, Int) = {
            def u16(i: Int) = ((cs(i) & 0xff) << 8) | (cs(i + 1) & 0xff)
            var p = 2; var coc = 0; var qcc = 0; var styleOr = 0
            while (u16(p) != 0xff90) {
              u16(p) match {
                case 0xff52 => styleOr |= cs(p + 12) & 0xff
                case 0xff53 => coc += 1; styleOr |= cs(p + 8) & 0xff
                case 0xff5d => qcc += 1
                case _ => ()
              }
              p += 2 + u16(p + 2)
            }
            (coc, qcc, styleOr)
          }
          def sotParts(cs: Array[Byte]): (Int, Int) = {
            var maxTp = 0; var n = 0
            var i = 0
            while (i < cs.length - 12) {
              if ((cs(i) & 0xff) == 0xff && (cs(i + 1) & 0xff) == 0x90) {
                maxTp = math.max(maxTp, cs(i + 10) & 0xff)
                n += 1
                val psot = ((cs(i + 6) & 0xffL) << 24) |
                  ((cs(i + 7) & 0xffL) << 16) |
                  ((cs(i + 8) & 0xffL) << 8) | (cs(i + 9) & 0xffL)
                i += math.max(psot.toInt, 12)
              } else i += 1
            }
            (maxTp, n)
          }
          val (maxTp, nSot) = sotParts(cs1)
          val tilesN = ((w1 + tw - 1) / tw) * ((h1 + th - 1) / th)
          val (coc, qcc, styleOr) = hdrMarkers(cs2)
          val (_, _, style1) = hdrMarkers(cs1)
          val formsOk = maxTp == nParts - 1 && nSot == tilesN * nParts &&
            coc == 2 && qcc == 2 && (styleOr & 1) == 1 && (style1 & 1) == 1
          val d1 = Jpeg2000.decode(cs1)
          val d2 = Jpeg2000.decode(cs2)
          val rtOk = d1.comps.head.sameElements(gray) &&
            d2.comps.zip(planes).forall { case (g, wnt) => g.sameElements(wnt) }
          val b = new Pdf.PdfBuilder
          val i1 = b.addStream(
            "/Type /XObject /Subtype /Image " +
              s"/Width $w1 /Height $h1 /ColorSpace /DeviceGray " +
              "/BitsPerComponent 8 /Filter /JPXDecode", cs1)
          val i2 = b.addStream(
            "/Type /XObject /Subtype /Image " +
              s"/Width 18 /Height $h2 /ColorSpace /DeviceRGB " +
              "/BitsPerComponent 8 /Filter /JPXDecode", cs2)
          b.addPage(s"q $w1 0 0 $h1 0 0 cm /I Do Q", (w1, h1),
            s"/XObject << /I $i1 0 R >>")
          b.addPage(s"q 18 0 0 $h2 0 0 cm /I Do Q", (18, h2),
            s"/XObject << /I $i2 0 R >>")
          (b.build(), formsOk, rtOk)
        }
        val extracted = udf { (pdf: Array[Byte]) =>
          Pdf.extractImages(pdf).count(_.format == "png")
        }
        T(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .withColumn("built", mk(col("doc_id")))
          .withColumn("pages", PdfRender.renderPages(col("built")("_1")))
          .select(col("doc_id"),
            Images.countColor(element_at(col("pages"), 1)("_4"), lit(0))
              .as("p1_black"),
            Images.countColor(element_at(col("pages"), 1)("_4"),
              lit(0xffffff)).as("p1_white"),
            Images.countColor(element_at(col("pages"), 2)("_4"),
              lit(0xff0000)).as("p2_red"),
            Images.countColor(element_at(col("pages"), 2)("_4"),
              lit(0x0000ff)).as("p2_blue"),
            col("built")("_2").as("forms_ok"),
            col("built")("_3").as("roundtrip_ok"),
            extracted(col("built")("_1")).cast("long").as("n_imgs"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, (32 + doc_id % 6)::INT AS w1,
             |    (22 + doc_id % 4)::INT AS h1, (12 + doc_id % 4)::INT AS h2
             |  FROM documents WHERE doc_id < 40
             |), p1 AS (
             |  SELECT d.doc_id, COUNT(*)::BIGINT AS black
             |  FROM d
             |  JOIN generate_series(0, 37) AS x(x) ON x.x < d.w1
             |  JOIN generate_series(0, 25) AS y(y) ON y.y < d.h1
             |  WHERE (3 * x.x + y.y + d.doc_id) % 8 < 3
             |  GROUP BY d.doc_id
             |)
             |SELECT d.doc_id, p1.black AS p1_black,
             |  (d.w1 * d.h1 - p1.black)::BIGINT AS p1_white,
             |  (9 * d.h2)::BIGINT AS p2_red, (9 * d.h2)::BIGINT AS p2_blue,
             |  TRUE AS forms_ok, TRUE AS roundtrip_ok, 2::BIGINT AS n_imgs
             |FROM d JOIN p1 USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin),
    ),
  )

  /** The planted near-dup corpus of q184, q199 and q203: documents
    * `doc_id < rows`, each cut to its first `doc_id % sliceMod + sliceAdd`
    * normalized tokens; a doc with `doc_id % dupMod = dupRem` carries the
    * text of doc `doc_id - lag` instead, when that doc exists.
    */
  private final case class NearDupCorpus(rows: Int, sliceMod: Int,
      sliceAdd: Int, lag: Int, dupMod: Int, dupRem: Int) {

    /** The corpus as one mtime-ordered parquet file per 10 doc_ids. */
    def stage(s: org.apache.spark.sql.SparkSession,
        dir: String): java.nio.file.Path = {
      val base = T(s, dir, "documents")
        .filter(col("doc_id") < rows)
        .withColumn("norm", expr(
          raw"""array_join(filter(transform(
            |  slice(split(trim(lower(text)), '\\s+'), 1,
            |        cast(doc_id % $sliceMod + $sliceAdd as int)),
            |  t -> regexp_replace(t, '[^a-z0-9]', '')),
            |  x -> x != ''), ' ')""".stripMargin))
        .select(col("doc_id"), col("norm"))
      val staged = base.alias("a")
        .join(base.alias("b"), col("b.doc_id") === col("a.doc_id") - lag,
          "left")
        .select(col("a.doc_id").as("doc_id"),
          when(col("a.doc_id") % dupMod === dupRem && col("b.norm").isNotNull,
            col("b.norm")).otherwise(col("a.norm")).as("text"))
      graft.QueryUtil.stageStreamFiles(staged,
        (col("doc_id") / 10).cast("int"), rows / 10, "neardup_in",
        1_000_000_000_000L)
    }

    /** The exact-signature (maxHamming = 0) verdicts in DuckDB; `flag`
      * names a boolean the gate computes Spark-side, pinned TRUE here.
      */
    def oracle(flag: String = ""): String = {
      val flagCol =
        if (flag.isEmpty) ""
        else s",\n  -- computed Spark-side; hash-match forces it TRUE\n  TRUE AS $flag"
      raw"""WITH t AS (
        |  SELECT doc_id, list_aggregate(list_filter(list_transform(
        |      list_slice(string_split_regex(trim(lower(text)), '\s+'),
        |                 1, doc_id % $sliceMod + $sliceAdd),
        |      t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
        |    x -> x <> ''), 'string_agg', ' ') AS norm
        |  FROM documents WHERE doc_id < $rows
        |), st AS (
        |  SELECT a.doc_id,
        |    CASE WHEN a.doc_id % $dupMod = $dupRem AND b.norm IS NOT NULL
        |         THEN b.norm ELSE a.norm END AS text
        |  FROM t a LEFT JOIN t b ON b.doc_id = a.doc_id - $lag
        |), ${simhashSql("string_split_regex(lower(text), '\\s+')")}, o AS (
        |  SELECT doc_id, sig,
        |    min(doc_id) OVER (PARTITION BY sig ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
        |  FROM sg
        |)
        |SELECT doc_id, sig, prior IS NOT NULL AS is_dup,
        |  coalesce(prior, -1)::BIGINT AS dup_of$flagCol
        |FROM o ORDER BY doc_id""".stripMargin
    }
  }

  private lazy val q184Corpus = NearDupCorpus(rows = 60, sliceMod = 5,
    sliceAdd = 6, lag = 2, dupMod = 3, dupRem = 2)
  private lazy val q203Corpus = NearDupCorpus(rows = 50, sliceMod = 4,
    sliceAdd = 5, lag = 3, dupMod = 4, dupRem = 1)

  /** DuckDB CTEs `tok`, `bit` and `sg` after a CTE `st`: each doc's
    * simhash16 signature from the md5 hex digits of the tokens `tokens`
    * yields, exactly as TextFunctions.simhash16 votes.
    */
  private def simhashSql(tokens: String): String =
    s"""tok AS (
      |  SELECT doc_id, unnest($tokens) AS tk FROM st
      |), bit AS (
      |  SELECT doc_id, g.i,
      |    CASE WHEN sum(CASE WHEN substr(md5(tk), g.i::INT, 1) >= '8'
      |                       THEN 1 ELSE -1 END) > 0
      |         THEN '1' ELSE '0' END AS b
      |  FROM tok, generate_series(1, 16) AS g(i)
      |  GROUP BY doc_id, g.i
      |), sg AS (
      |  SELECT doc_id, string_agg(b, '' ORDER BY i) AS sig
      |  FROM bit GROUP BY doc_id
      |)""".stripMargin

  /** The exact-signature near-dup stream of q184, q199 and q203. */
  private def exactDups(stream: org.apache.spark.sql.DataFrame) =
    graft.streaming.Streaming
      .nearDupStream(stream, "doc_id", "text", maxHamming = 0).toDF()

  /** Near-dup gate output: doc_id, sig, is_dup, dup_of, then `flags`. */
  private def verdictRows(verdicts: org.apache.spark.sql.DataFrame,
      flags: org.apache.spark.sql.Column*) =
    verdicts
      .select(Seq(col("doc_id"), col("simhash").as("sig"),
        (col("dup_of") =!= -1L).as("is_dup"), col("dup_of")) ++ flags: _*)
      .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))

  /** q186/q196's late-data replay: docs 0-59 at event time 1e9 s +
    * 30 s × doc_id, staged as four files (docs 0-19, 20-39, 40-49, 50-59),
    * except that file 2's docs 40-49 carry STALE times 30 s × (doc_id − 40)
    * from file 0's era.
    */
  private def lateDataStage(s: org.apache.spark.sql.SparkSession,
      dir: String): java.nio.file.Path = {
    val base = T(s, dir, "documents").filter(col("doc_id") < 60)
      .withColumn("ts", timestamp_seconds(lit(1000000000L) +
        when(col("doc_id").between(40, 49),
          (col("doc_id") - 40) * 30).otherwise(col("doc_id") * 30)))
      .select(col("doc_id"), col("ts"))
    val fileIdx = when(col("doc_id") < 20, 0)
      .when(col("doc_id") < 40, 1)
      .when(col("doc_id") < 50, 2).otherwise(3)
    graft.QueryUtil.stageStreamFiles(base, fileIdx, 4, "late_in",
      1_000_000_000_000L)
  }

  private def try_cast_long(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.try_cast("long")
}
