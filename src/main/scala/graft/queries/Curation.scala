package graft.queries

import graft.{QueryDef, Tables => T}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators a pretraining data pipeline runs between raw
  * ingestion and tokenization: temperature-resampled language/domain
  * mixtures (UniMax / mT5-style), sequence packing into fixed token
  * budgets, corpus-trained character-LM quality scoring (CCNet's filtering
  * signal, re-expressed without the external KenLM dependency), and
  * duplicated-span coverage measurement (the statistic driving exact
  * substring dedup à la Lee et al., "Deduplicating Training Data Makes
  * Language Models Better").
  *
  * Everything is deterministic (md5 sampling keys, rounded floats) so the
  * DuckDB oracle reproduces results hash-for-hash, and every shape is the
  * one that survives 100 TB: broadcast-joined per-group rates, a two-phase
  * distributed prefix scan (`operators/Pack.scala`), bounded-vocabulary
  * broadcast stats, and equi-joins on gram keys — never all-pairs, never a
  * single-task global sort.
  */
object Curation {

  /** md5-based uniform [0,1) draw from the doc id: first 48 hash bits as a
    * fraction — exact in a double, bit-identical in any engine.
    */
  private def hashFrac(seed: String, id: Column): Column =
    conv(substring(md5(concat(lit(seed + "_"), id.cast("string"))), 1, 12),
      16, 10).cast("double") / 281474976710656.0 // 2^48

  private def hashFracSql(seed: String, idExpr: String): String =
    s"('0x' || substr(md5('${seed}_' || $idExpr), 1, 12))::BIGINT / 281474976710656.0"

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q144_paragraph_dedup",
      (s, dir) => {
        // Paragraph-level dedup (Dolma's second dedup stage, between
        // URL-level and document-level: drop repeated paragraphs
        // corpus-wide, keeping the FIRST occurrence in (doc, position)
        // order — Dolma does this approximately with a Bloom filter;
        // this is the exact deterministic analog). Sentences stand in
        // for paragraphs on the synthetic corpus. Shape: explode → ONE
        // shuffle on the normalized-paragraph key (first-occurrence
        // window partitions on the key, never a global sort) → per-doc
        // reaggregate. The same plan holds on a full crawl.
        val parts = T(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(split(col("text"), "\\. ")).as(Seq("pos", "p")))
          .withColumn("norm", lower(trim(col("p"))))
          .filter(length(col("norm")) > 0)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("norm")).orderBy(col("doc_id"), col("pos"))
        parts
          .withColumn("rk", row_number().over(w))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_parts"),
            sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_kept"))
          .withColumn("n_dropped", col("n_parts") - col("n_kept"))
          .withColumn("kept_ratio",
            round(col("n_kept").cast("double") / col("n_parts"), 4))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH p AS (SELECT doc_id,
             |    generate_subscripts(parts, 1) AS pos, unnest(parts) AS part
             |  FROM (SELECT doc_id, string_split(text, '. ') AS parts
             |        FROM documents)),
             |n AS (SELECT doc_id, pos, lower(trim(part)) AS norm FROM p
             |  WHERE length(lower(trim(part))) > 0),
             |r AS (SELECT doc_id, row_number() OVER (
             |    PARTITION BY norm ORDER BY doc_id, pos) AS rk FROM n)
             |SELECT doc_id, count(*)::BIGINT AS n_parts,
             |  sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
             |  (count(*) - sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END))::BIGINT
             |    AS n_dropped,
             |  round(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END)::DOUBLE
             |    / count(*), 4) AS kept_ratio
             |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q142_url_dedup",
      (s, dir) => {
        // URL-level dedup, the FIRST dedup stage of the FineWeb/Dolma/
        // CCNet crawl pipelines: canonicalize (scheme/fragment dropped,
        // host lower-cased and de-www'd, trailing slash stripped,
        // tracking params removed, survivors sorted), group by the
        // canonical key, keep the earliest doc. URLs are synthesized as
        // closed forms of doc_id (the q127-q130 media recipe): four
        // variants per site — clean https, http+www+trailing-slash,
        // SHOUTING host+utm tracking, and a param-order probe that stays
        // distinct — so the canonical strings, groups, and keepers are
        // all literal SQL derivations. Net.canonicalUrl is pure Column
        // composition (parse_url + array HOFs): whole-stage codegen, the
        // groupBy shuffles on the canonical hash — the shape that holds
        // on a full crawl.
        import graft.functions.Net
        val k = (col("doc_id") / 4).cast("long")
        val url = when(col("doc_id") % 4 === 0,
            concat(lit("https://site"), k, lit(".example.com/p"), k))
          .when(col("doc_id") % 4 === 1,
            concat(lit("http://www.site"), k, lit(".example.com/p"), k, lit("/")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("https://SITE"), k, lit(".EXAMPLE.com/p"), k,
              lit("?utm_source=x&utm_campaign=y")))
          .otherwise(
            concat(lit("https://site"), k, lit(".example.com/p"), k,
              lit("?b=2&a=1")))
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("canon"))
        T(s, dir, "documents")
          .filter(col("doc_id") < 400)
          .withColumn("url", url)
          .withColumn("canon", Net.canonicalUrl(col("url")))
          .withColumn("domain", Net.registeredDomain(col("url")))
          .withColumn("dup_count", count(lit(1)).over(w))
          .withColumn("keeper", col("doc_id") === min(col("doc_id")).over(w))
          .select(col("doc_id"), col("canon"), col("domain"),
            col("dup_count"), col("keeper"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id,
             |  'site' || (doc_id // 4) || '.example.com/p' || (doc_id // 4)
             |    || CASE WHEN doc_id % 4 = 3 THEN '?a=1&b=2' ELSE '' END
             |    AS canon,
             |  'example.com' AS domain,
             |  CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 3 END::BIGINT AS dup_count,
             |  (doc_id % 4 = 0 OR doc_id % 4 = 3) AS keeper
             |FROM documents WHERE doc_id < 400
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q146_psl_domains",
      (s, dir) => {
        // Public-suffix-aware registered-domain extraction (the grouping
        // key of domain-level crawl curation — FineWeb/CCNet aggregate
        // stats per registered domain, which the two-label rule corrupts
        // for ccSLD hosts). URLs are closed forms of doc_id spanning the
        // rule classes: a `.co.uk` ccSLD host, a `.com.au` host with a
        // subdomain, an unlisted-suffix fallback, an IPv4 literal, and a
        // 3-label `.vic.edu.au` suffix that must beat its 2-label prefix.
        // Net.registeredDomain is pure Column composition (the suffix
        // sets compile to InSet probes inside whole-stage codegen), so
        // the derivation is map-only at any corpus size.
        import graft.functions.Net
        val k = (col("doc_id") / 5).cast("long")
        val url = when(col("doc_id") % 5 === 0,
            concat(lit("https://www.news"), k, lit(".co.uk/article")))
          .when(col("doc_id") % 5 === 1,
            concat(lit("https://shop.example"), k, lit(".com.au/p")))
          .when(col("doc_id") % 5 === 2,
            concat(lit("https://deep.sub.example"), k, lit(".io/x")))
          .when(col("doc_id") % 5 === 3, lit("http://192.168.0.1/admin"))
          .otherwise(lit("https://x.school.vic.edu.au/"))
        T(s, dir, "documents")
          .filter(col("doc_id") < 500)
          .withColumn("domain", Net.registeredDomain(url))
          .select(col("doc_id"), col("domain"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id, CASE CAST(doc_id % 5 AS INT)
             |  WHEN 0 THEN 'news' || (doc_id // 5) || '.co.uk'
             |  WHEN 1 THEN 'example' || (doc_id // 5) || '.com.au'
             |  WHEN 2 THEN 'example' || (doc_id // 5) || '.io'
             |  WHEN 3 THEN '192.168.0.1'
             |  ELSE 'school.vic.edu.au' END AS domain
             |FROM documents WHERE doc_id < 500
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q148_psl_wildcards",
      (s, dir) => {
        // The FULL public-suffix algorithm's remaining rule classes over
        // closed forms of doc_id: a `*.ck` wildcard host, the `!www.ck`
        // exception that cancels it, the `*.kawasaki.jp` city wildcard,
        // its `!city.kawasaki.jp` exception, a 4-label `pvt.k12.ma.us`
        // linear entry, and a punycode `xn--55qx5d.cn` IDN registry.
        // Still pure Column composition (the wildcard/exception sets are
        // small `In` chains, the linear sets `InSet` probes), so the
        // derivation stays map-only whole-stage codegen at crawl scale.
        import graft.functions.Net
        val k = (col("doc_id") / 6).cast("long")
        val url = when(col("doc_id") % 6 === 0,
            concat(lit("https://shop"), k, lit(".atoll"), k, lit(".ck/p")))
          .when(col("doc_id") % 6 === 1,
            concat(lit("https://page"), k, lit(".www.ck/p")))
          .when(col("doc_id") % 6 === 2,
            concat(lit("https://ward"), k, lit(".chuo.kawasaki.jp/p")))
          .when(col("doc_id") % 6 === 3,
            concat(lit("https://svc"), k, lit(".city.kawasaki.jp/p")))
          .when(col("doc_id") % 6 === 4,
            concat(lit("https://sch"), k, lit(".pvt.k12.ma.us/p")))
          .otherwise(
            concat(lit("https://brand"), k, lit(".xn--55qx5d.cn/p")))
        T(s, dir, "documents")
          .filter(col("doc_id") < 480)
          .withColumn("domain", Net.registeredDomain(url))
          .select(col("doc_id"), col("domain"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""SELECT doc_id, CASE CAST(doc_id % 6 AS INT)
             |  WHEN 0 THEN 'shop' || (doc_id // 6) || '.atoll' || (doc_id // 6) || '.ck'
             |  WHEN 1 THEN 'www.ck'
             |  WHEN 2 THEN 'ward' || (doc_id // 6) || '.chuo.kawasaki.jp'
             |  WHEN 3 THEN 'city.kawasaki.jp'
             |  WHEN 4 THEN 'sch' || (doc_id // 6) || '.pvt.k12.ma.us'
             |  ELSE 'brand' || (doc_id // 6) || '.xn--55qx5d.cn' END AS domain
             |FROM documents WHERE doc_id < 480
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q103_mixture_sample",
      (s, dir) => {
        // UniMax/mT5 temperature resampling: per-language sampling rates
        // proportional to n^alpha (alpha=0.5) toward a 250-doc budget,
        // applied as a repeatable md5-threshold draw per document. The
        // rates table is |languages| rows — broadcast-joined, so the scan
        // stays map-only at any corpus size. Rates are rounded to 6
        // decimals BEFORE the threshold compare: the compare must be
        // bit-reproducible across engines, and the rate derivation ends in
        // a float sum whose last-ULP could otherwise flip a boundary doc.
        val docs = T(s, dir, "documents")
        val counts = docs.groupBy(col("lang"))
          .agg(count(lit(1)).cast("double").as("n"))
        val denom = counts.agg(sum(sqrt(col("n"))).as("denom"))
        val rates = counts.crossJoin(broadcast(denom))
          .withColumn("rate",
            round(least(lit(1.0), lit(250.0) * sqrt(col("n")) / col("denom") / col("n")), 6))
          .select(col("lang"), col("rate"))
        docs.join(broadcast(rates), Seq("lang"))
          .filter(hashFrac("103", col("doc_id")) < col("rate"))
          .select(col("doc_id"), col("lang"), col("source"), col("rate"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some(s"""WITH c AS (SELECT lang, count(*)::DOUBLE AS n FROM documents GROUP BY 1),
              |r AS (SELECT lang,
              |  round(least(1.0, 250.0 * sqrt(n) / (SELECT sum(sqrt(n)) FROM c) / n), 6) AS rate
              |  FROM c)
              |SELECT d.doc_id, d.lang, d.source, r.rate
              |FROM documents d JOIN r USING (lang)
              |WHERE ${hashFracSql("103", "d.doc_id::VARCHAR")} < r.rate
              |ORDER BY d.doc_id""".stripMargin),
    ),
    QueryDef(
      "q104_sequence_pack",
      (s, dir) => {
        // sequence packing: documents in doc_id order land in the bin where
        // their first token falls (capacity 256 tokens, GPT-style packed
        // stream split at fixed strides). The global token offset comes
        // from Pack.withExclusivePrefixSum — a two-phase distributed scan
        // (range repartition; per-partition totals prefix-summed on the
        // driver, #partitions values; windows only WITHIN partitions) —
        // never a single-task global window.
        val docs = T(s, dir, "documents")
          .select(col("doc_id"),
            size(split(trim(col("text")), "\\s+")).cast("long").as("tok"))
        graft.operators.Pack
          .packBins(docs, col("doc_id"), col("tok"), 256L, "bin")
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("bin_tokens"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .transform(graft.QueryUtil.orderedSmall(_, col("bin")))
      },
      Some("""WITH t AS (SELECT doc_id,
             |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS tok
             |  FROM documents),
             |o AS (SELECT doc_id, tok,
             |    coalesce(sum(tok) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
             |  FROM t)
             |SELECT floor(off / 256.0)::BIGINT AS bin, count(*) AS n_docs,
             |  sum(tok)::BIGINT AS bin_tokens, min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM o GROUP BY 1 ORDER BY bin""".stripMargin),
    ),
    QueryDef(
      "q105_charlm_score",
      (s, dir) => {
        // CCNet-style LM quality signal without the external KenLM: train a
        // character-bigram unigram-frequency model ON the corpus itself
        // (one groupBy over exploded bigrams — the model is at most
        // |charset|^2 rows, broadcastable at any corpus size) and score
        // each document by its mean log2 bigram probability. Low scores =
        // character salad; the filtering threshold is a downstream choice.
        // the driver corpus is ONE row group per file — fan the compute-
        // heavy bigram explode out across cores (at 100 TB inputs arrive
        // pre-split; this shuffle is KBs here); computed ONCE for both the
        // model aggregation and the scoring join via the shared lineage
        val docs = T(s, dir, "documents").repartition(graft.QueryUtil.Fanout, col("doc_id"))
        val bg = docs.select(col("doc_id"),
          explode(when(length(col("text")) >= 2,
            transform(sequence(lit(1), length(col("text")) - 1),
              i => lower(col("text")).substr(i, lit(2)))).otherwise(lit(null)))
            .as("bg"))
        val model = bg.groupBy(col("bg")).agg(count(lit(1)).cast("double").as("cnt"))
        val total = model.agg(sum(col("cnt")).as("tot"))
        bg.join(broadcast(model), Seq("bg"))
          .crossJoin(broadcast(total))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            round(avg(log2(col("cnt") / col("tot"))), 4).as("avg_logp"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH bg AS (SELECT doc_id,
             |    unnest([substr(lower(text), i, 2)
             |            for i in generate_series(1, length(text) - 1)]) AS bg
             |  FROM documents),
             |c AS (SELECT bg, count(*)::DOUBLE AS cnt FROM bg GROUP BY 1)
             |SELECT doc_id, count(*) AS n_bigrams,
             |  round(avg(log2(cnt / (SELECT sum(cnt) FROM c))), 4) AS avg_logp
             |FROM bg JOIN c USING (bg)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q106_dupspan_stats",
      (s, dir) => {
        // duplicated-span coverage (the measurement behind exact substring
        // dedup, Lee et al. 2022): fraction of each document's tokens
        // covered by some word-8-gram that also appears in ANOTHER
        // document. Shape: posexplode grams (map-only), one groupBy on the
        // gram key to find cross-document grams, an equi-join back on the
        // gram key (shuffle by gram — never all-pairs), then a distinct on
        // covered (doc, position) pairs. At 100 TB the gram key-space is
        // huge → hash-shuffle balances; the oracle is the identical
        // relational pipeline in DuckDB.
        // single-row-group input: fan the gram explosion out across cores
        val docs = T(s, dir, "documents").repartition(graft.QueryUtil.Fanout, col("doc_id"))
        val toks = docs.select(col("doc_id"),
          split(trim(col("text")), "\\s+").as("w"))
        val grams = toks.select(col("doc_id"), col("w"),
            // guard: Spark's sequence(1, n) REVERSES for n < 1 instead of
            // returning empty; explode(null) is the correct zero-row escape
            explode(when(size(col("w")) >= 8,
              sequence(lit(1), size(col("w")) - 7)).otherwise(lit(null)))
              .as("pos"))
          .select(col("doc_id"), col("pos"),
            array_join(slice(col("w"), col("pos"), lit(8)), " ").as("gram"))
        val dup = grams.groupBy(col("gram"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") > 1).select(col("gram"))
        val covered = grams.join(dup, Seq("gram"))
          .select(col("doc_id"),
            explode(sequence(col("pos"), col("pos") + 7)).as("p"))
          .distinct()
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
        toks.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
          .join(covered, Seq("doc_id"), "left")
          .withColumn("n_covered", coalesce(col("n_covered"), lit(0L)))
          .withColumn("dup_ratio",
            round(col("n_covered").cast("double") / col("n_tokens"), 4))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
             |  FROM documents),
             |g AS (SELECT doc_id, pos, array_to_string(w[pos:pos+7], ' ') AS gram
             |  FROM (SELECT doc_id, w,
             |          unnest(generate_series(1, len(w) - 7)) AS pos FROM t)),
             |dup AS (SELECT gram FROM g GROUP BY gram
             |  HAVING count(DISTINCT doc_id) > 1),
             |cov AS (SELECT DISTINCT doc_id, p FROM
             |  (SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS p
             |   FROM g JOIN dup USING (gram))),
             |covc AS (SELECT doc_id, count(*) AS n_covered FROM cov GROUP BY 1)
             |SELECT t.doc_id, len(w)::BIGINT AS n_tokens,
             |  coalesce(n_covered, 0) AS n_covered,
             |  round(coalesce(n_covered, 0)::DOUBLE / len(w), 4) AS dup_ratio
             |FROM t LEFT JOIN covc USING (doc_id)
             |ORDER BY t.doc_id""".stripMargin),
    ),
    QueryDef(
      "q108_ccnet_filter",
      (s, dir) => {
        // CCNet's decision layer (Wenzek et al. 2020): per-LANGUAGE tercile
        // cutoffs over the corpus-LM score split documents into head /
        // middle / tail quality buckets (tail = least probable text, the
        // filtering candidate). Cutoffs are |languages| rows broadcast
        // back, so the pass stays map-only after the score aggregation.
        // Scores and cutoffs are BOTH rounded to 4 dp before the bucket
        // compare — the gate must be engine-reproducible at the boundary.
        val docs = T(s, dir, "documents").repartition(graft.QueryUtil.Fanout, col("doc_id"))
        val bg = docs.select(col("doc_id"), col("lang"),
          explode(when(length(col("text")) >= 2,
            transform(sequence(lit(1), length(col("text")) - 1),
              i => lower(col("text")).substr(i, lit(2)))).otherwise(lit(null)))
            .as("bg"))
        val model = bg.groupBy(col("bg")).agg(count(lit(1)).cast("double").as("cnt"))
        val total = model.agg(sum(col("cnt")).as("tot"))
        val scored = bg.join(broadcast(model), Seq("bg"))
          .crossJoin(broadcast(total))
          .groupBy(col("doc_id"), col("lang"))
          .agg(round(avg(log2(col("cnt") / col("tot"))), 4).as("score"))
        val cuts = scored.groupBy(col("lang")).agg(
          round(expr("percentile(score, 0.333333)"), 4).as("t1"),
          round(expr("percentile(score, 0.666667)"), 4).as("t2"))
        scored.join(broadcast(cuts), Seq("lang"))
          .withColumn("bucket",
            when(col("score") <= col("t1"), "tail")
              .when(col("score") <= col("t2"), "middle")
              .otherwise("head"))
          .select(col("doc_id"), col("lang"), col("score"), col("bucket"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH bg AS (SELECT doc_id, lang,
             |    unnest([substr(lower(text), i, 2)
             |            for i in generate_series(1, length(text) - 1)]) AS bg
             |  FROM documents),
             |c AS (SELECT bg, count(*)::DOUBLE AS cnt FROM bg GROUP BY 1),
             |scored AS (SELECT doc_id, lang,
             |    round(avg(log2(cnt / (SELECT sum(cnt) FROM c))), 4) AS score
             |  FROM bg JOIN c USING (bg) GROUP BY doc_id, lang),
             |cuts AS (SELECT lang,
             |    round(quantile_cont(score, 0.333333), 4) AS t1,
             |    round(quantile_cont(score, 0.666667), 4) AS t2
             |  FROM scored GROUP BY lang)
             |SELECT doc_id, s.lang, score,
             |  CASE WHEN score <= t1 THEN 'tail'
             |       WHEN score <= t2 THEN 'middle'
             |       ELSE 'head' END AS bucket
             |FROM scored s JOIN cuts USING (lang)
             |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q107_dedup_substring",
      (s, dir) => {
        // exact substring dedup — the REMOVAL side of q106 (Lee et al.
        // 2022): every word position covered by a cross-document 8-gram is
        // dropped and the surviving words reassemble in order. Shape: the
        // q106 pipeline (gram-keyed equi-join) plus one anti-join on
        // (doc, position) and a per-doc ordered reassembly — collect_list
        // groups only a single document's tokens, never a corpus-wide sort.
        // single-row-group input: fan the gram explosion out across cores
        val docs = T(s, dir, "documents").repartition(graft.QueryUtil.Fanout, col("doc_id"))
        val toks = docs.select(col("doc_id"),
          split(trim(col("text")), "\\s+").as("w"))
        val grams = toks.select(col("doc_id"), col("w"),
            explode(when(size(col("w")) >= 8,
              sequence(lit(1), size(col("w")) - 7)).otherwise(lit(null)))
              .as("pos"))
          .select(col("doc_id"), col("pos"),
            array_join(slice(col("w"), col("pos"), lit(8)), " ").as("gram"))
        val dup = grams.groupBy(col("gram"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") > 1).select(col("gram"))
        val covered = grams.join(dup, Seq("gram"))
          .select(col("doc_id"),
            explode(sequence(col("pos"), col("pos") + 7)).as("p"))
          .distinct()
        val words = toks.select(col("doc_id"),
          posexplode(col("w")).as(Seq("p0", "word")))
          .select(col("doc_id"), (col("p0") + 1).as("p"), col("word"))
        val kept = words.join(covered, Seq("doc_id", "p"), "left_anti")
          .groupBy(col("doc_id"))
          .agg(array_join(transform(array_sort(collect_list(
            struct(col("p"), col("word")))), x => x("word")), " ")
            .as("clean_text"),
            count(lit(1)).as("n_kept"))
        toks.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
          .join(kept, Seq("doc_id"), "left")
          .withColumn("clean_text", coalesce(col("clean_text"), lit("")))
          .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
             |  FROM documents),
             |g AS (SELECT doc_id, pos, array_to_string(w[pos:pos+7], ' ') AS gram
             |  FROM (SELECT doc_id, w,
             |          unnest(generate_series(1, len(w) - 7)) AS pos FROM t)),
             |dup AS (SELECT gram FROM g GROUP BY gram
             |  HAVING count(DISTINCT doc_id) > 1),
             |cov AS (SELECT DISTINCT doc_id, p FROM
             |  (SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS p
             |   FROM g JOIN dup USING (gram))),
             |words AS (SELECT doc_id, p, w[p] AS word FROM
             |  (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS p FROM t)),
             |kept AS (SELECT w.doc_id,
             |    string_agg(w.word, ' ' ORDER BY w.p) AS clean_text,
             |    count(*) AS n_kept
             |  FROM words w ANTI JOIN cov c ON w.doc_id = c.doc_id AND w.p = c.p
             |  GROUP BY w.doc_id)
             |SELECT t.doc_id, len(w)::BIGINT AS n_tokens,
             |  coalesce(clean_text, '') AS clean_text,
             |  coalesce(n_kept, 0) AS n_kept
             |FROM t LEFT JOIN kept USING (doc_id)
             |ORDER BY t.doc_id""".stripMargin),
    ),
    QueryDef(
      "q117_dsir_weights",
      (s, dir) => {
        // DSIR data-selection importance weights (Xie et al. 2023,
        // "Data Selection for Language Models via Importance Resampling"):
        // hashed unigram+bigram features into K buckets, per-bucket
        // log-likelihood ratio θ between the TARGET distribution (lang =
        // 'en' docs) and the RAW corpus, per-doc importance weight =
        // Σ θ over its features. 100 TB shape: feature explosion is
        // map-only, one groupBy on the K-bounded bucket key, θ (K rows)
        // broadcast back, one groupBy on doc_id — no all-pairs, nothing
        // driver-side. Engine parity: θ is fixed-pointed to integer
        // micro-units BEFORE the per-doc sum, so the aggregation is
        // order-independent exact integer math and the gate hash-matches.
        val k = 1024
        val docs = T(s, dir, "documents").repartition(graft.QueryUtil.Fanout, col("doc_id"))
          .select(col("doc_id"), col("lang"),
            split(trim(col("text")), "\\s+").as("w"))
        val uni = docs.select(col("doc_id"), col("lang"), explode(col("w")).as("f"))
        val bi = docs.select(col("doc_id"), col("lang"),
          // sequence(1, n) reverses for n < 1 — null ⇒ explode drops the row
          explode(when(size(col("w")) >= 2, expr(
            "transform(sequence(1, size(w) - 1), i -> concat(w[i-1], ' ', w[i]))"))
            .otherwise(lit(null))).as("f"))
        val fb = uni.unionByName(bi)
          .withColumn("bucket",
            conv(substring(md5(col("f")), 1, 12), 16, 10).cast("long") % k)
        val cnt = fb.groupBy(col("bucket")).agg(
          count(lit(1)).as("rc"),
          count(when(col("lang") === "en", 1)).as("tc"))
        val tot = cnt.agg(sum("rc").as("rtot"), sum("tc").as("ttot"))
        val theta = cnt.crossJoin(broadcast(tot))
          .withColumn("th", round(log(
            ((col("tc") + 1.0) / (col("ttot") + k.toDouble)) /
              ((col("rc") + 1.0) / (col("rtot") + k.toDouble))) * 1e6)
            .cast("long"))
          .select("bucket", "th")
        fb.join(broadcast(theta), Seq("bucket"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("long").as("n_feats"),
            sum(col("th")).as("dsir_w_micro"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH t AS (SELECT doc_id, lang,
             |    string_split_regex(trim(text), '\s+') AS w FROM documents),
             |uni AS (SELECT doc_id, lang, unnest(w) AS f FROM t),
             |bi AS (SELECT doc_id, lang, w[p] || ' ' || w[p+1] AS f
             |  FROM (SELECT doc_id, lang, w,
             |          unnest(generate_series(1, len(w) - 1)) AS p FROM t)),
             |fb AS (SELECT doc_id, lang,
             |    ('0x' || substr(md5(f), 1, 12))::BIGINT % 1024 AS bucket
             |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
             |cnt AS (SELECT bucket, count(*) AS rc,
             |    count(*) FILTER (WHERE lang = 'en') AS tc
             |  FROM fb GROUP BY 1),
             |tot AS (SELECT sum(rc) AS rtot, sum(tc) AS ttot FROM cnt),
             |theta AS (SELECT bucket,
             |    CAST(round(ln(((tc + 1.0) / (ttot + 1024.0)) /
             |      ((rc + 1.0) / (rtot + 1024.0))) * 1000000) AS BIGINT) AS th
             |  FROM cnt, tot)
             |SELECT doc_id, count(*)::BIGINT AS n_feats,
             |  sum(th)::BIGINT AS dsir_w_micro
             |FROM fb JOIN theta USING (bucket)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q131_bpe_merges",
      (s, dir) => {
        // BPE tokenizer TRAINING on the corpus (Sennrich et al. 2016 —
        // the training side of the GPT-2/CLIP tokenizers graft.ml.Bpe
        // runs at inference): four unrolled merge rounds over the
        // word-frequency table. The oracle replays the identical rounds in
        // SQL using the same parenthesized-symbol encoding, where plain
        // non-regex replace() IS greedy left-to-right BPE (see
        // operators/BpeTrain.scala for why a space-separated encoding
        // would merge only alternate adjacent occurrences).
        import s.implicits._
        val merges = graft.operators.BpeTrain
          .learnMerges(T(s, dir, "documents"), "text", nMerges = 4)
        // the oracle unrolls exactly 4 merge rounds; a corpus yielding
        // fewer would silently diverge (its comma-joined empty mN CTE
        // wipes all rows) — fail loudly instead
        require(merges.length == 4,
          s"q131 oracle assumes 4 learnable merges, corpus yielded ${merges.length}")
        merges.toDF()
          .select(col("merge_rank").cast("long").as("merge_rank"),
            col("lhs"), col("rhs"), col("pair_count"))
          .transform(graft.QueryUtil.orderedSmall(_, col("merge_rank")))
      },
      Some("""WITH words AS (
             |  SELECT w, count(*)::BIGINT AS cnt FROM (
             |    SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
             |    FROM documents)
             |  WHERE regexp_matches(w, '^[a-z]+$') GROUP BY 1),
             |w0 AS (SELECT regexp_replace(w, '(.)', '(\1)', 'g') AS s, cnt
             |  FROM words),
             |p1 AS (SELECT l, r, sum(cnt)::BIGINT AS c FROM (
             |    SELECT cnt,
             |      unnest(list_slice(syms, 1, len(syms) - 1)) AS l,
             |      unnest(list_slice(syms, 2, len(syms))) AS r
             |    FROM (SELECT string_split(trim(s, '()'), ')(') AS syms, cnt
             |          FROM w0))
             |  GROUP BY 1, 2),
             |m1 AS (SELECT l, r, c FROM p1 ORDER BY c DESC, l, r LIMIT 1),
             |w1 AS (SELECT replace(s, '(' || m1.l || ')(' || m1.r || ')',
             |         '(' || m1.l || m1.r || ')') AS s, cnt FROM w0, m1),
             |p2 AS (SELECT l, r, sum(cnt)::BIGINT AS c FROM (
             |    SELECT cnt,
             |      unnest(list_slice(syms, 1, len(syms) - 1)) AS l,
             |      unnest(list_slice(syms, 2, len(syms))) AS r
             |    FROM (SELECT string_split(trim(s, '()'), ')(') AS syms, cnt
             |          FROM w1))
             |  GROUP BY 1, 2),
             |m2 AS (SELECT l, r, c FROM p2 ORDER BY c DESC, l, r LIMIT 1),
             |w2 AS (SELECT replace(s, '(' || m2.l || ')(' || m2.r || ')',
             |         '(' || m2.l || m2.r || ')') AS s, cnt FROM w1, m2),
             |p3 AS (SELECT l, r, sum(cnt)::BIGINT AS c FROM (
             |    SELECT cnt,
             |      unnest(list_slice(syms, 1, len(syms) - 1)) AS l,
             |      unnest(list_slice(syms, 2, len(syms))) AS r
             |    FROM (SELECT string_split(trim(s, '()'), ')(') AS syms, cnt
             |          FROM w2))
             |  GROUP BY 1, 2),
             |m3 AS (SELECT l, r, c FROM p3 ORDER BY c DESC, l, r LIMIT 1),
             |w3 AS (SELECT replace(s, '(' || m3.l || ')(' || m3.r || ')',
             |         '(' || m3.l || m3.r || ')') AS s, cnt FROM w2, m3),
             |p4 AS (SELECT l, r, sum(cnt)::BIGINT AS c FROM (
             |    SELECT cnt,
             |      unnest(list_slice(syms, 1, len(syms) - 1)) AS l,
             |      unnest(list_slice(syms, 2, len(syms))) AS r
             |    FROM (SELECT string_split(trim(s, '()'), ')(') AS syms, cnt
             |          FROM w3))
             |  GROUP BY 1, 2),
             |m4 AS (SELECT l, r, c FROM p4 ORDER BY c DESC, l, r LIMIT 1)
             |SELECT 1::BIGINT AS merge_rank, l AS lhs, r AS rhs,
             |  c AS pair_count FROM m1
             |UNION ALL SELECT 2::BIGINT, l, r, c FROM m2
             |UNION ALL SELECT 3::BIGINT, l, r, c FROM m3
             |UNION ALL SELECT 4::BIGINT, l, r, c FROM m4
             |ORDER BY merge_rank""".stripMargin),
    ),
    QueryDef(
      "q132_nb_classifier",
      (s, dir) => {
        // TRAINABLE document classifier — the fastText/CCNet-style
        // supervised filter (multinomial Naive Bayes over hashed
        // bag-of-words): train on the 80% split (doc_id % 5 ≠ 0) with
        // lang as the label, predict the held-out 20%. Hash-bucketed
        // features (md5 % 1024, the q117 DSIR trick) make the model a
        // FIXED k×L grid — broadcastable at any corpus size, and no
        // unseen-word special case. Per-feature log-likelihoods round to
        // integer micro-units BEFORE the per-(doc,lang) sum, so scores
        // are accumulation-order-independent and engine-exact; argmax
        // tiebreaks (score DESC, lang). Train = one shuffle; scoring =
        // broadcast join + per-doc aggregate; the argmax window
        // partitions on the high-cardinality doc_id.
        val k = 1024
        val toks = T(s, dir, "documents").select(col("doc_id"), col("lang"),
          explode(split(trim(col("text")), "\\s+")).as("f"))
        val fb = toks.withColumn("b",
          conv(substring(md5(col("f")), 1, 12), 16, 10).cast("long") % k)
        val train = fb.filter(col("doc_id") % 5 =!= 0)
        val cnt = train.groupBy(col("lang").as("l"), col("b"))
          .agg(count(lit(1)).as("c"))
        val tot = cnt.groupBy(col("l")).agg(sum(col("c")).as("tc"))
        val langs = tot.select(col("l"))
        val grid = langs
          .crossJoin(s.range(k).select(col("id").as("b")))
          .join(tot, Seq("l"))
          .join(cnt, Seq("l", "b"), "left")
          .select(col("l"), col("b"),
            round(log((coalesce(col("c"), lit(0L)) + 1.0) /
              (col("tc") + k.toDouble)) * 1e6).cast("long").as("llh"))
        val trainDocs = T(s, dir, "documents").filter(col("doc_id") % 5 =!= 0)
        val nTrain = trainDocs.count().toDouble
        val prior = trainDocs.groupBy(col("lang").as("l"))
          .agg(round(log(count(lit(1)) / nTrain) * 1e6).cast("long").as("pr"))
        val scores = fb.filter(col("doc_id") % 5 === 0)
          .join(broadcast(grid), Seq("b"))
          .join(broadcast(prior), Seq("l"))
          .groupBy(col("doc_id"), col("l"), col("pr"))
          .agg(sum(col("llh")).as("sllh"))
          .select(col("doc_id"), col("l"),
            (col("pr") + col("sllh")).as("sc"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("sc").desc, col("l"))
        scores.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
          .join(T(s, dir, "documents").select(col("doc_id"), col("lang")),
            Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("l").as("pred_lang"),
            col("sc").as("nb_score_micro"),
            (col("l") === col("lang")).cast("int").as("correct"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH t AS (SELECT doc_id, lang,
             |    unnest(string_split_regex(trim(text), '\s+')) AS f
             |  FROM documents),
             |fb AS (SELECT doc_id, lang,
             |    ('0x' || substr(md5(f), 1, 12))::BIGINT % 1024 AS b FROM t),
             |cnt AS (SELECT lang AS l, b, count(*) AS c FROM fb
             |  WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
             |tot AS (SELECT l, sum(c) AS tc FROM cnt GROUP BY 1),
             |grid AS (SELECT tot.l, gb.b,
             |    CAST(round(ln((coalesce(c, 0) + 1.0) / (tc + 1024.0))
             |      * 1000000) AS BIGINT) AS llh
             |  FROM (SELECT l, unnest(generate_series(0, 1023)) AS b
             |        FROM tot) gb
             |  JOIN tot ON tot.l = gb.l
             |  LEFT JOIN cnt ON cnt.l = gb.l AND cnt.b = gb.b),
             |prior AS (SELECT lang AS l, CAST(round(ln(count(*) /
             |      (SELECT count(*)::DOUBLE FROM documents
             |       WHERE doc_id % 5 <> 0)) * 1000000) AS BIGINT) AS pr
             |  FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1),
             |scores AS (SELECT fb.doc_id, g.l, p.pr + sum(g.llh) AS sc
             |  FROM fb JOIN grid g ON g.b = fb.b JOIN prior p ON p.l = g.l
             |  WHERE fb.doc_id % 5 = 0 GROUP BY fb.doc_id, g.l, p.pr),
             |ranked AS (SELECT doc_id, l, sc, row_number() OVER (
             |    PARTITION BY doc_id ORDER BY sc DESC, l) AS rk FROM scores)
             |SELECT r.doc_id, d.lang, r.l AS pred_lang,
             |  r.sc::BIGINT AS nb_score_micro, (r.l = d.lang)::INT AS correct
             |FROM ranked r JOIN documents d ON d.doc_id = r.doc_id
             |WHERE rk = 1 ORDER BY r.doc_id""".stripMargin),
    ),
    QueryDef(
      "q134_bpe_tokenize",
      (s, dir) => {
        // APPLY the q131-trained merges corpus-wide: per-document token
        // counts before/after BPE — the compression statistic a tokenizer
        // trainer reports. The merges are applied to the DISTINCT-word
        // table (vocabulary-sized, broadcastable), and per-doc stats come
        // from joining doc tokens to it — corpus text never re-tokenizes
        // row by row. The oracle re-learns the same four merges and
        // replays the application through the same encoding.
        val docs = T(s, dir, "documents")
        val merges = graft.operators.BpeTrain.learnMerges(docs, "text", 4)
        require(merges.length == 4, // same unrolled-oracle guard as q131
          s"q134 oracle assumes 4 learnable merges, corpus yielded ${merges.length}")
        var repr = graft.operators.BpeTrain.wordCounts(docs, "text")
          .select(col("w"), regexp_replace(col("w"), "(.)", "($1)").as("s"))
        merges.foreach { m =>
          repr = repr.select(col("w"), expr(
            s"replace(s, '(${m.lhs})(${m.rhs})', '(${m.lhs}${m.rhs})')")
            .as("s"))
        }
        val wtoks = repr.select(col("w"),
          size(split(regexp_replace(col("s"), "^\\(|\\)$", ""), "\\)\\("))
            .as("n_sym"))
        docs.select(col("doc_id"),
            explode(split(lower(col("text")), "\\s+")).as("w"))
          .filter(col("w").rlike("^[a-z]+$"))
          .join(broadcast(wtoks), Seq("w"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"),
            sum(col("n_sym")).as("n_bpe_tokens"))
          .withColumn("bpe_per_word",
            round(col("n_bpe_tokens").cast("double") / col("n_words"), 6))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH words AS (
             |  SELECT w, count(*)::BIGINT AS cnt FROM (
             |    SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
             |    FROM documents)
             |  WHERE regexp_matches(w, '^[a-z]+$') GROUP BY 1),
             |w0 AS (SELECT w, regexp_replace(w, '(.)', '(\1)', 'g') AS s, cnt
             |  FROM words),
             |p1 AS (SELECT l, r, sum(cnt)::BIGINT AS c FROM (
             |    SELECT cnt,
             |      unnest(list_slice(syms, 1, len(syms) - 1)) AS l,
             |      unnest(list_slice(syms, 2, len(syms))) AS r
             |    FROM (SELECT string_split(trim(s, '()'), ')(') AS syms, cnt
             |          FROM w0))
             |  GROUP BY 1, 2),
             |m1 AS (SELECT l, r FROM p1 ORDER BY c DESC, l, r LIMIT 1),
             |w1 AS (SELECT w, replace(s, '(' || m1.l || ')(' || m1.r || ')',
             |         '(' || m1.l || m1.r || ')') AS s, cnt FROM w0, m1),
             |p2 AS (SELECT l, r, sum(cnt)::BIGINT AS c FROM (
             |    SELECT cnt,
             |      unnest(list_slice(syms, 1, len(syms) - 1)) AS l,
             |      unnest(list_slice(syms, 2, len(syms))) AS r
             |    FROM (SELECT string_split(trim(s, '()'), ')(') AS syms, cnt
             |          FROM w1))
             |  GROUP BY 1, 2),
             |m2 AS (SELECT l, r FROM p2 ORDER BY c DESC, l, r LIMIT 1),
             |w2 AS (SELECT w, replace(s, '(' || m2.l || ')(' || m2.r || ')',
             |         '(' || m2.l || m2.r || ')') AS s, cnt FROM w1, m2),
             |p3 AS (SELECT l, r, sum(cnt)::BIGINT AS c FROM (
             |    SELECT cnt,
             |      unnest(list_slice(syms, 1, len(syms) - 1)) AS l,
             |      unnest(list_slice(syms, 2, len(syms))) AS r
             |    FROM (SELECT string_split(trim(s, '()'), ')(') AS syms, cnt
             |          FROM w2))
             |  GROUP BY 1, 2),
             |m3 AS (SELECT l, r FROM p3 ORDER BY c DESC, l, r LIMIT 1),
             |w3 AS (SELECT w, replace(s, '(' || m3.l || ')(' || m3.r || ')',
             |         '(' || m3.l || m3.r || ')') AS s, cnt FROM w2, m3),
             |p4 AS (SELECT l, r, sum(cnt)::BIGINT AS c FROM (
             |    SELECT cnt,
             |      unnest(list_slice(syms, 1, len(syms) - 1)) AS l,
             |      unnest(list_slice(syms, 2, len(syms))) AS r
             |    FROM (SELECT string_split(trim(s, '()'), ')(') AS syms, cnt
             |          FROM w3))
             |  GROUP BY 1, 2),
             |m4 AS (SELECT l, r FROM p4 ORDER BY c DESC, l, r LIMIT 1),
             |w4 AS (SELECT w, replace(s, '(' || m4.l || ')(' || m4.r || ')',
             |         '(' || m4.l || m4.r || ')') AS s FROM w3, m4),
             |wt AS (SELECT w, len(string_split(trim(s, '()'), ')(')) AS n_sym
             |  FROM w4),
             |tok AS (SELECT doc_id, w FROM (
             |    SELECT doc_id,
             |      unnest(string_split_regex(lower(text), '\s+')) AS w
             |    FROM documents)
             |  WHERE regexp_matches(w, '^[a-z]+$'))
             |SELECT doc_id, count(*)::BIGINT AS n_words,
             |  sum(n_sym)::BIGINT AS n_bpe_tokens,
             |  round(sum(n_sym)::DOUBLE / count(*), 6) AS bpe_per_word
             |FROM tok JOIN wt USING (w)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q156_sample_priority",
      (s, dir) => {
        // Weighted sampling without replacement via PRIORITY SAMPLING
        // (Duffield/Lund/Thorup 2007): priority qᵢ = wᵢ/uᵢ with uᵢ the
        // md5-fraction draw, keep the k largest, threshold τ = the
        // (k+1)-th priority, Horvitz-Thompson weight estimate
        // ŵᵢ = max(wᵢ, τ) (unbiased for subset sums). Chosen over A-ES
        // u^(1/w) because it needs NO transcendentals — an md5 fraction
        // and one IEEE division are bit-identical in any engine, so the
        // sample is hash-exact, not tolerance-fenced. Shape: the k+1
        // survivors come from TakeOrderedAndProject (per-partition top-k,
        // driver merges k·P rows) — no global sort at any scale; weights
        // here are n_chars (bytes-ish), i.e. sampling proportional to
        // document cost.
        val k = 40
        val docs = T(s, dir, "documents").select(
          col("doc_id"),
          col("n_chars").cast("double").as("w"),
          (col("n_chars").cast("double") /
            hashFrac("156", col("doc_id"))).as("q"))
        val top = docs.orderBy(col("q").desc, col("doc_id")).limit(k + 1)
          .collect()
        val tau = top(k).getDouble(2)
        import s.implicits._
        top.take(k).toSeq
          .map(r => (r.getLong(0), r.getDouble(1).toLong,
            BigDecimal(r.getDouble(2)).setScale(6,
              BigDecimal.RoundingMode.HALF_UP).toDouble,
            BigDecimal(math.max(r.getDouble(1), tau)).setScale(4,
              BigDecimal.RoundingMode.HALF_UP).toDouble))
          .toDF("doc_id", "w", "pri", "est_w")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH p AS (SELECT doc_id, n_chars::DOUBLE AS w,
              |    n_chars::DOUBLE / (${hashFracSql("156", "doc_id::VARCHAR")}) AS q
              |  FROM documents),
              |r AS (SELECT doc_id, w, q,
              |    row_number() OVER (ORDER BY q DESC, doc_id) AS rk FROM p)
              |SELECT doc_id, CAST(w AS BIGINT) AS w, round(q, 6) AS pri,
              |  round(greatest(w, (SELECT q FROM r WHERE rk = 41)), 4) AS est_w
              |FROM r WHERE rk <= 40 ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q157_heavy_hitters",
      (s, dir) => {
        // Space-Saving heavy hitters (operators/HeavyHitters): partial-
        // aggregate summaries of O(m) state per task, pair-merged, O(m)
        // rows to the driver — the top-k-frequent plan that never
        // shuffles the raw stream. The stream is a DETERMINISTIC
        // power-law: key = floor(1/u) with u the md5 fraction of the
        // lineitem key columns — bit-identical in any engine (no
        // transcendentals, one IEEE division), with real zipf skew the
        // 31-token synthetic vocabulary lacks. The sketch is
        // approximate, so the gate is its CONTRACT: the summary only
        // NOMINATES candidates, the emitted top-10 is an EXACT recount
        // over the candidate set (InSet probe, one bounded groupBy) —
        // if any true top-10 key ever dropped out of the summary, the
        // rows differ from the oracle's exact top-10 and the gate
        // hash-fails; `bounds_ok` additionally asserts est ≥ true and
        // est − err ≤ true for every tracked item (error bound ≪ the
        // rank-10 frequency by 4× margin at every SF).
        import s.implicits._
        val m = 1024
        val u = greatest(hashFrac("157", concat_ws("_",
          col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))), lit(1e-12))
        val stream = T(s, dir, "lineitem")
          .select(floor(lit(1.0) / u).cast("long").as("k")).persist()
        try {
          val summary = stream.select(col("k").cast("string").as("v"))
            .as[String]
            .select(new graft.operators.SpaceSavingAgg(m).toColumn).head()
          val cands = summary.map(_._1.toLong)
          val exactMap = stream.filter(col("k").isInCollection(cands))
            .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val boundsOk = summary.forall { case (ks, est, err) =>
            val t = exactMap(ks.toLong)
            est >= t && est - err <= t
          }
          exactMap.toSeq.sortBy { case (k, c) => (-c, k) }.take(10)
            .zipWithIndex
            .map { case ((k, c), i) => (i + 1L, k, c, boundsOk) }
            .toDF("rank", "k", "cnt", "bounds_ok")
            .orderBy(col("rank"))
        } finally { stream.unpersist(blocking = false); () }
      },
      Some(s"""WITH ks AS (SELECT floor(1.0 / greatest(
              |    ${hashFracSql("157",
                     "l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR || '_' || " +
                     "l_partkey::VARCHAR || '_' || l_suppkey::VARCHAR")},
              |    1e-12))::BIGINT AS k FROM lineitem),
              |c AS (SELECT k, count(*)::BIGINT AS cnt FROM ks GROUP BY 1),
              |r AS (SELECT k, cnt,
              |    row_number() OVER (ORDER BY cnt DESC, k) AS rank FROM c)
              |SELECT rank::BIGINT AS rank, k, cnt, TRUE AS bounds_ok
              |FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin),
    ),
  )
}
