package graft.queries

import graft.{QueryDef, Tables => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-scale training-data pipeline operators (north star in BASELINE.json):
  * deduplication (exact, MinHash+LSH banding, SimHash, n-gram Jaccard,
  * embedding-cosine near-dup), similarity search (brute-force top-k baseline +
  * cluster-pruned IVF-style variant), and text analysis (language-ID, quality
  * scoring, token stats, fingerprinting), plus event-time windowing /
  * sessionization over the events table.
  *
  * All hashes are md5-based so the DuckDB oracle computes bit-identical
  * values; every per-row float derivation is rounded before output.
  *
  * Scale notes (100 TB): the MinHash/LSH path is the scalable near-dup join —
  * signatures are computed per-row (map-only), candidate pairs come from an
  * equi-join on (band_index, band_hash) which Spark shuffles by band key
  * (no O(n^2) comparison); the oracle uses the equivalent OR-of-bands theta
  * join on a bounded id range only because DuckDB has no explode-join idiom.
  * Brute-force cosine pair generation is intentionally bounded to a fixed id
  * range (oracle-checkable); the unbounded path is the banded/clustered one.
  */
object Pipeline {

  // ---- shared builders (Spark side) ----

  /** whitespace tokens of the text column */
  private def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** distinct 3-char shingle set (requires length >= 3) */
  private def shingles(c: Column): Column =
    array_distinct(transform(sequence(lit(1), length(c) - 2), i => c.substr(i, lit(3))))

  /** MinHash j: min over shingles of md5(j ∥ '_' ∥ shingle), 12-hex prefix. */
  private def minhash(sh: Column, j: Int): Column =
    substring(array_min(transform(sh, s => md5(concat(lit(s"${j}_"), s)))), 1, 12)

  /** native Catalyst kernel (graft.plans.CosineSimilarityExpr): one fused
    * codegen loop; the HOF zip_with/aggregate composition is CodegenFallback
    * and would poison whole-stage codegen for the projection.
    */
  private def cosine(s: SparkSession, a: Column, b: Column): Column =
    graft.plans.NativeVector.cosine(s, a, b)

  // ---- shared constants (must match the generated oracle SQL) ----

  /** fixed 64-dim query vector; every value is exactly representable in
    * binary so the SQL literal parses to the identical double.
    */
  private val queryVec: Seq[Double] = (0 until 64).map(i => ((i % 7) - 3) * 0.125)

  private def queryVecSql: String =
    queryVec.mkString("[", ", ", "]::DOUBLE[]")

  private def queryVecCol: Column = array(queryVec.map(lit): _*)

  /** second probe direction for q150 (dyadic-exact like queryVec) */
  private val queryVec2: Seq[Double] = (0 until 64).map(i => ((i * 3 % 11) - 5) * 0.125)

  private def queryVec2Sql: String =
    queryVec2.mkString("[", ", ", "]::DOUBLE[]")

  /** unit-normalized literal vector column (dot with unit vecs = cosine) */
  private def unitCol(q: Seq[Double]): Column = {
    val n = math.sqrt(q.map(x => x * x).sum)
    array(q.map(x => lit(x / n)): _*)
  }

  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and"),
    "de" -> Seq("der", "die", "und", "das", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "y", "las", "un"),
  )

  /** DuckDB list-comprehension for the distinct 3-gram shingle set. */
  private val shinglesSql =
    "list_distinct([substr(text, i, 3) for i in generate_series(1, length(text) - 2)])"

  private def minhashSql(j: Int): String =
    s"substr(list_min([md5('${j}_' || s) for s in sh]), 1, 12)"

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q28_dedup_exact",
      (s, dir) => {
        // exact dedup: hash-groupBy on content digest; keeper = min id.
        T(s, dir, "documents")
          .groupBy(md5(col("text")).as("text_hash"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .orderBy(col("text_hash"))
      },
      Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
             |count(*) AS n_copies
             |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin),
    ),
    QueryDef(
      "q29_ann_topk",
      (s, dir) => {
        // brute-force cosine top-k: Catalyst plans orderBy+limit as
        // TakeOrderedAndProject — per-partition heap, no global sort.
        val e = col("embedding").cast("array<double>")
        T(s, dir, "embeddings")
          .select(col("vec_id"), round(cosine(s, e, queryVecCol), 6).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(10)
      },
      Some(s"""SELECT vec_id, round(
              |  list_dot_product(embedding::DOUBLE[], $queryVecSql) /
              |  (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
              |   sqrt(list_dot_product($queryVecSql, $queryVecSql))), 6) AS cos_sim
              |FROM embeddings
              |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
    ),
    QueryDef(
      "q30_ann_ivf",
      (s, dir) => {
        // IVF-style pruned search: the label column partitions the vectors
        // into clusters; probe only the query's cluster (here cluster 1).
        // At scale this is a partition-pruned parquet scan instead of a
        // full-table pass.
        val e = col("embedding").cast("array<double>")
        T(s, dir, "embeddings")
          .filter(col("label") === 1)
          .select(col("vec_id"), round(cosine(s, e, queryVecCol), 6).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(10)
      },
      Some(s"""SELECT vec_id, round(
              |  list_dot_product(embedding::DOUBLE[], $queryVecSql) /
              |  (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
              |   sqrt(list_dot_product($queryVecSql, $queryVecSql))), 6) AS cos_sim
              |FROM embeddings WHERE label = 1
              |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
    ),
    QueryDef(
      "q31_neardup_cosine",
      (s, dir) => {
        // embedding-cosine near-dup pairs on a bounded id range (the
        // unbounded scale path is q33's banded LSH join).
        // one fused native-codegen loop per pair (dot + both norms) — no
        // HOF lambda dispatch, no codegen fallback in the join projection.
        val emb = T(s, dir, "embeddings")
          .filter(col("vec_id") < 1000)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        val a = emb.select(col("vec_id").as("vec_a"), col("e").as("ea"))
        val b = emb.select(col("vec_id").as("vec_b"), col("e").as("eb"))
        a.join(b, col("vec_a") < col("vec_b"))
          .select(col("vec_a"), col("vec_b"),
            round(cosine(s, col("ea"), col("eb")), 6).as("cos_sim"))
          .filter(col("cos_sim") >= 0.4)
          .transform(graft.QueryUtil.orderedSmall(_, col("vec_a"), col("vec_b")))
      },
      Some("""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, round(
             |  list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             |  (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
             |   sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos_sim
             |FROM embeddings a JOIN embeddings b
             |ON a.vec_id < b.vec_id AND a.vec_id < 1000 AND b.vec_id < 1000
             |WHERE round(
             |  list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             |  (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
             |   sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) >= 0.4
             |ORDER BY vec_a, vec_b""".stripMargin),
    ),
    QueryDef(
      "q32_minhash_sig",
      (s, dir) => {
        // native one-pass signature kernel (graft.plans.MinHashSigExpr):
        // bit-identical to the per-j HOF composition the oracle mirrors,
        // but one digest loop per row instead of 8 interpreted array passes
        val sh = shingles(col("text"))
        T(s, dir, "documents")
          .filter(col("n_chars") >= 3)
          .repartition(graft.QueryUtil.Fanout, col("doc_id")) // one-row-group file: fan out
          .withColumn("sig",
            graft.plans.TextNative.minhashSignature(s, sh))
          .select((col("doc_id") +:
            (0 until 8).map(j => element_at(col("sig"), j + 1).as(s"h$j"))): _*)
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some {
        val hs = (0 until 8).map(j => s"${minhashSql(j)} AS h$j").mkString(",\n")
        s"""SELECT doc_id,
           |$hs
           |FROM (SELECT doc_id, $shinglesSql AS sh FROM documents WHERE n_chars >= 3)
           |ORDER BY doc_id""".stripMargin
      },
    ),
    QueryDef(
      "q33_lsh_pairs",
      (s, dir) => {
        // MinHash-LSH banding: 8 hashes → 4 bands of 2; candidate pairs via
        // an equi-join on (band_index, band_hash). This is the 100 TB shape:
        // map-side signatures, shuffle by band key, no quadratic compare.
        // Bounded to doc_id < 1000 only so the DuckDB oracle's theta-join
        // formulation stays cheap.
        val sh = shingles(col("text"))
        val sig = T(s, dir, "documents")
          .filter(col("n_chars") >= 3 && col("doc_id") < 1000)
          .repartition(graft.QueryUtil.Fanout, col("doc_id")) // one-row-group file: fan out
          .withColumn("_sig", graft.plans.TextNative.minhashSignature(s, sh))
          .select(col("doc_id") +: (0 until 8).map(j =>
            element_at(col("_sig"), j + 1).as(s"h$j")): _*)
        // 2 bands × 4 rows: this corpus's docs share most shingles, so wider
        // bands keep the candidate set selective.
        val bandCols = (0 until 2).map(b =>
          md5(concat((0 until 4).map(r => col(s"h${4 * b + r}")): _*)))
        val bands = sig.select(col("doc_id"),
          posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_hash")))
        // self-join via aliases, renaming AFTER the join: both sides then
        // shuffle the IDENTICAL subplan on (band_idx, band_hash), so
        // Catalyst's ReuseExchange computes the md5 minhash signatures ONCE
        // and replays the exchange for the other side.
        bands.as("a").join(bands.as("b"),
            col("a.band_idx") === col("b.band_idx") &&
              col("a.band_hash") === col("b.band_hash"))
          .filter(col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_a"), col("doc_b")))
      },
      Some {
        val hs = (0 until 8).map(j => s"${minhashSql(j)} AS h$j").mkString(", ")
        val bs = (0 until 2).map(b =>
          s"md5(${(0 until 4).map(r => s"h${4 * b + r}").mkString(" || ")}) AS b$b").mkString(", ")
        val ors = (0 until 2).map(b => s"a.b$b = b.b$b").mkString(" OR ")
        s"""SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM
           |(SELECT doc_id, $bs FROM (SELECT doc_id, $hs FROM
           |  (SELECT doc_id, $shinglesSql AS sh FROM documents
           |   WHERE n_chars >= 3 AND doc_id < 1000))) a
           |JOIN
           |(SELECT doc_id, $bs FROM (SELECT doc_id, $hs FROM
           |  (SELECT doc_id, $shinglesSql AS sh FROM documents
           |   WHERE n_chars >= 3 AND doc_id < 1000))) b
           |ON a.doc_id < b.doc_id AND ($ors)
           |ORDER BY doc_a, doc_b""".stripMargin
      },
    ),
    QueryDef(
      "q34_ngram_jaccard",
      (s, dir) => {
        // exact n-gram Jaccard near-dup on a bounded id range (the candidate
        // generation at scale is q33; this is the verification kernel).
        // sorted shingles: the pairwise kernel is a native zero-allocation
        // merge scan (graft.plans.SortedIntersectCountExpr) — sort once per
        // ROW, merge once per PAIR (array_intersect would re-build a hash
        // set per pair)
        val docs = T(s, dir, "documents")
          .filter(col("n_chars") >= 3 && col("doc_id") < 200)
          .select(col("doc_id"), array_sort(shingles(col("text"))).as("sh"))
        val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
        val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
        // size-ratio prefilter: jaccard >= t implies min(|A|,|B|)/max(|A|,|B|)
        // >= t, so the cheap size comparison prunes pairs before the
        // expensive set intersection. Result set is provably unchanged.
        a.join(b, col("doc_a") < col("doc_b") &&
            size(col("sha")).cast("double") >= lit(0.6) * size(col("shb")) &&
            size(col("shb")).cast("double") >= lit(0.6) * size(col("sha")))
          // |A∪B| = |A|+|B|−|A∩B| on distinct shingle sets — no union array
          .select(col("doc_a"), col("doc_b"), size(col("sha")).as("_na"),
            size(col("shb")).as("_nb"),
            graft.plans.NativeVector.sortedIntersectCount(s,
              col("sha"), col("shb")).as("_ni"))
          .select(col("doc_a"), col("doc_b"),
            round(col("_ni").cast("double") /
              (col("_na") + col("_nb") - col("_ni")), 6).as("jaccard"))
          .filter(col("jaccard") >= 0.6)
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_a"), col("doc_b")))
      },
      Some(s"""SELECT doc_a, doc_b, jaccard FROM (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |    round(len(list_intersect(a.sh, b.sh))::DOUBLE /
              |          len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
              |  FROM (SELECT doc_id, $shinglesSql AS sh FROM documents
              |        WHERE n_chars >= 3 AND doc_id < 200) a
              |  JOIN (SELECT doc_id, $shinglesSql AS sh FROM documents
              |        WHERE n_chars >= 3 AND doc_id < 200) b
              |  ON a.doc_id < b.doc_id)
              |WHERE jaccard >= 0.6 ORDER BY doc_a, doc_b""".stripMargin),
    ),
    QueryDef(
      "q35_simhash",
      (s, dir) => {
        // 16-bit SimHash: bit i = sign of sum over tokens of ±1 by the top
        // bit of md5(token)'s i-th nibble (md5-based so the oracle matches).
        // Native one-pass kernel (graft.plans.SimHashExpr): one digest per
        // token feeds all 16 bits — the HOF composition recomputed md5 per
        // bit, 16 interpreted array passes (ScaleCheck measured it 16.6x
        // at 10x before the kernel).
        T(s, dir, "documents")
          .repartition(graft.QueryUtil.Fanout, col("doc_id")) // one-row-group file: fan out
          .select(col("doc_id"), graft.plans.TextNative.simhash16(s,
            tokens(col("text"))).as("simhash"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some {
        val bits = (0 until 16).map { i =>
          s"CASE WHEN list_sum([CASE WHEN substr(md5(t), ${i + 1}, 1) >= '8' THEN 1 ELSE -1 END for t in toks]) > 0 THEN '1' ELSE '0' END"
        }.mkString(" || ")
        s"""SELECT doc_id, $bits AS simhash
           |FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
           |ORDER BY doc_id""".stripMargin
      },
    ),
    QueryDef(
      "q36_lang_id",
      (s, dir) => {
        // stopword-vote language ID (n-gram heuristic class; reference has
        // no lang-id — this is a north-star training-pipeline op).
        val toks = tokens(col("text"))
        val scored = T(s, dir, "documents").withColumn("toks", toks)
        val scoreCols = stopwords.map { case (l, ws) =>
          size(filter(col("toks"), t => ws.map(w => t === w).reduce(_ || _)))
            .cast("long").as(s"s_$l")
        }
        val langs = stopwords.map(_._1)
        // argmax with first-wins tie-break in declaration order
        val pred = langs.zipWithIndex.foldRight(lit(langs.last): Column) {
          case ((l, _), acc) =>
            val ge = langs.filter(_ != l).map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _)
            when(ge, l).otherwise(acc)
        }
        scored
          .select((col("doc_id") +: col("lang") +: scoreCols): _*)
          .withColumn("pred", pred)
          .withColumn("correct", col("pred") === col("lang"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some {
        val scores = stopwords.map { case (l, ws) =>
          val set = ws.map(w => s"'$w'").mkString(", ")
          s"len(list_filter(toks, t -> t IN ($set))) AS s_$l"
        }.mkString(",\n")
        val langs = stopwords.map(_._1)
        val pred = langs.init.foldRight(s"'${langs.last}'") { (l, acc) =>
          val ge = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
          s"CASE WHEN $ge THEN '$l' ELSE $acc END"
        }
        s"""SELECT doc_id, lang, s_en, s_de, s_fr, s_es,
           |$pred AS pred, ($pred) = lang AS correct
           |FROM (SELECT doc_id, lang,
           |$scores
           |FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks FROM documents))
           |ORDER BY doc_id""".stripMargin
      },
    ),
    QueryDef(
      "q37_quality_score",
      (s, dir) => {
        val toks = tokens(col("text"))
        val enStop = stopwords.head._2
        T(s, dir, "documents")
          .withColumn("toks", toks)
          .withColumn("n_tok", size(col("toks")).cast("long"))
          .select(
            col("doc_id"),
            length(col("text")).cast("long").as("len_c"),
            col("n_tok"),
            round(length(regexp_replace(col("text"), "\\s", "")).cast("double") / col("n_tok"), 6)
              .as("avg_tok_len"),
            round(size(filter(col("toks"), t => enStop.map(w => t === w).reduce(_ || _)))
              .cast("double") / col("n_tok"), 6).as("stop_ratio"),
            round(size(array_distinct(col("toks"))).cast("double") / col("n_tok"), 6)
              .as("ttr"),
          )
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some {
        val set = stopwords.head._2.map(w => s"'$w'").mkString(", ")
        s"""SELECT doc_id, length(text) AS len_c, len(toks) AS n_tok,
           |round(length(regexp_replace(text, '\\s', '', 'g'))::DOUBLE / len(toks), 6) AS avg_tok_len,
           |round(len(list_filter(toks, t -> t IN ($set)))::DOUBLE / len(toks), 6) AS stop_ratio,
           |round(len(list_distinct(toks))::DOUBLE / len(toks), 6) AS ttr
           |FROM (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
           |ORDER BY doc_id""".stripMargin
      },
    ),
    QueryDef(
      "q38_fingerprint",
      (s, dir) => {
        // whitespace-normalized content fingerprint (rolling-hash class);
        // grouped to expose duplicate fingerprints.
        val fp = substring(md5(lower(regexp_replace(col("text"), "\\s+", " "))), 1, 16)
        T(s, dir, "documents")
          .select(col("doc_id"), fp.as("fp"))
          .groupBy(col("fp"))
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
          .transform(graft.QueryUtil.orderedSmall(_, col("fp")))
      },
      Some("""SELECT fp, count(*) AS n, min(doc_id) AS first_doc
             |FROM (SELECT doc_id,
             |  substr(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 16) AS fp
             |  FROM documents)
             |GROUP BY fp ORDER BY fp""".stripMargin),
    ),
    QueryDef(
      "q39_events_hourly",
      (s, dir) => {
        // event-time tumbling window aggregation (batch form; the streaming
        // form is Structured Streaming withWatermark + window — see
        // graft.streaming).
        T(s, dir, "events")
          .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hr"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"),
            // rounded-sum / count avoids rounding half-boundary flips
            round(round(sum(col("value")), 2) / count(lit(1)), 6).as("avg_v"))
          .orderBy(col("hr"), col("event_type"))
      },
      Some("""SELECT date_trunc('hour', ts) AS hr, event_type,
             |count(*) AS n, round(sum(value), 2) AS total,
             |round(round(sum(value), 2) / count(*), 6) AS avg_v
             |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin),
    ),
    QueryDef(
      "q40_sessionize",
      (s, dir) => {
        // gap-based sessionization: 30-min inactivity starts a new session.
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        T(s, dir, "events")
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("new_s",
            when(col("prev_ts").isNull ||
              col("ts") - col("prev_ts") > expr("INTERVAL 30 MINUTES"), 1).otherwise(0))
          .withColumn("session_id", sum(col("new_s")).over(wRun))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
          .orderBy(col("user_id"), col("session_id"))
      },
      Some("""SELECT user_id, session_id, count(*) AS n_events,
             |min(ts) AS session_start, max(ts) AS session_end
             |FROM (SELECT user_id, ts, event_id,
             |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
             |  FROM (SELECT user_id, ts, event_id,
             |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
             |         THEN 1 ELSE 0 END AS new_s
             |    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)))
             |GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin),
    ),
    QueryDef(
      "q150_ann_ivfpq",
      (s, dir) => {
        // IVF-PQ (graft.operators.Pq — Jégou et al. 2011, the faiss IVFPQ
        // layout): bit-deterministic driver-side training on a bounded
        // md5-ordered sample, map-only 8-byte-per-vector encode (32x
        // compression — the memory shape that lets a 100 TB embedding
        // store score off codes), ADC candidate scoring with one M x ks
        // lookup table, exact cosine re-rank of the bounded candidate
        // pool. PQ is APPROXIMATE, so the gate is the approximation
        // CONTRACT, per query vector: the returned rank-1 must equal the
        // exact nearest neighbor VALUE-EXACTLY (vec_id + cosine — the
        // re-rank is exact arithmetic, so this hash-fails if the true NN
        // ever drops out of the candidate pool), recall@10 vs the exact
        // top-10 must clear 0.7 (measured 0.8-1.0 across sf0.001-0.1),
        // k rows must come back, and codes must be exactly M=8 bytes.
        // Exact ranking equivalence on controlled data is pinned by
        // PqSpec (full-probe degeneracy + separable-cluster exactness).
        import graft.operators.Pq
        import s.implicits._
        val emb = T(s, dir, "embeddings")
        val model = Pq.build(emb, "embedding", "vec_id", kc = 8, m = 8, ks = 16)
        // persist: the gate drives several actions (2 queries × ADC +
        // exact re-rank + the byte check) and the map-only encode would
        // otherwise re-run per action
        val codes = Pq.encode(emb, "embedding", "vec_id", model).persist()
        val queries = Seq(1 -> queryVec, 2 -> queryVec2)
        // the exact-control top-10s for BOTH probe vectors share ONE scan
        // (guide §2.4 — r15 ran one TakeOrdered scan per probe): both
        // cosines are computed per row, exploded to (qid, vec_id, cos),
        // top-10 per qid via a window. The cosine expression and the
        // (cos desc, vec_id) total order are unchanged, so the surviving
        // ids are identical to the per-probe controls.
        def cosCol(q: Seq[Double]) = aggregate(zip_with(
          graft.operators.ExactAnn.normalized(col("embedding")),
          unitCol(q), (x, y) => x * y), lit(0.0), (a, x) => a + x)
        val exactBoth = emb
          .select(col("vec_id").cast("long").as("vec_id"),
            explode(array(queries.map { case (qid, q) =>
              struct(lit(qid).as("qid"), cosCol(q).as("cos")) }: _*)).as("qc"))
          .select(col("qc.qid").as("qid"), col("vec_id"), col("qc.cos").as("cos"))
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
              .orderBy(col("cos").desc, col("vec_id"))))
          .filter(col("rk") <= 10)
        // the byte check, the two ADC searches and the exact control are
        // independent actions — overlap them (guide §2.6); the persisted
        // codes materialize once under the cache manager's block locks
        try {
          val acts = graft.QueryUtil.inParallel(Seq[() => Any](
            () => codes.agg(max(length(col("code"))).as("mx"),
              min(length(col("code"))).as("mn")).head(),
            () => Pq.search(emb, codes, "embedding", "vec_id", model,
              queryVec, k = 10, nprobe = 6, rerank = 200).collect(),
            () => Pq.search(emb, codes, "embedding", "vec_id", model,
              queryVec2, k = 10, nprobe = 6, rerank = 200).collect(),
            () => exactBoth.collect(),
          ))
          val codeBytesOk = acts(0) match {
            case r: org.apache.spark.sql.Row => r.getInt(0) == 8 && r.getInt(1) == 8
          }
          val approxByQid = Map(
            1 -> acts(1).asInstanceOf[Array[org.apache.spark.sql.Row]],
            2 -> acts(2).asInstanceOf[Array[org.apache.spark.sql.Row]])
          val exactIds = acts(3).asInstanceOf[Array[org.apache.spark.sql.Row]]
            .groupBy(_.getInt(0)).view
            .mapValues(_.map(_.getLong(1)).toSet).toMap
          queries.map { case (qid, _) =>
            val approx = approxByQid(qid)
            val recall = approx.map(_.getLong(0)).toSet
              .intersect(exactIds(qid)).size / 10.0
            (qid, approx.head.getLong(0),
              BigDecimal(approx.head.getDouble(1)).setScale(6,
                BigDecimal.RoundingMode.HALF_UP).toDouble,
              recall >= 0.7, approx.length == 10, codeBytesOk)
          }.toDF("qid", "nn_vec_id", "nn_cos", "recall_ok", "k_ok", "code_ok")
            .orderBy("qid")
        } finally { codes.unpersist(blocking = false); () }
      },
      Some(s"""WITH sc AS (
              |  SELECT 1 AS qid, $queryVecSql AS q
              |  UNION ALL SELECT 2, $queryVec2Sql),
              |ranked AS (
              |  SELECT qid, vec_id,
              |    round(list_dot_product(embedding::DOUBLE[], q) /
              |      (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
              |       sqrt(list_dot_product(q, q))), 6) AS c,
              |    row_number() OVER (PARTITION BY qid ORDER BY
              |      list_dot_product(embedding::DOUBLE[], q) /
              |      (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
              |       sqrt(list_dot_product(q, q))) DESC, vec_id) AS rk
              |  FROM embeddings, sc)
              |SELECT qid, vec_id AS nn_vec_id, c AS nn_cos,
              |  TRUE AS recall_ok, TRUE AS k_ok, TRUE AS code_ok
              |FROM ranked WHERE rk = 1 ORDER BY qid""".stripMargin),
    ),
    QueryDef(
      "q81_ann_ivf_learned",
      (s, dir) => {
        // EXACT ANN over a LEARNED IVF layout: distributed k-means
        // (deterministic md5-ordered init) + per-cluster radii, probe order
        // by triangle-inequality bound — the pruned result must equal the
        // oracle's brute-force top-10 EXACTLY, by construction, with
        // data-dependent pruning (graft.operators.ExactAnn).
        import graft.operators.ExactAnn
        val emb = T(s, dir, "embeddings")
        val ivf = ExactAnn.build(emb, "embedding", "vec_id", k = 8, maxIter = 5)
        ExactAnn.search(s, emb, "embedding", "vec_id", queryVec, 10, ivf)
          .select(col("vec_id"), round(col("cos_sim"), 6).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
      },
      Some(s"""SELECT vec_id, round(
              |  list_dot_product(embedding::DOUBLE[], $queryVecSql) /
              |  (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
              |   sqrt(list_dot_product($queryVecSql, $queryVecSql))), 6) AS cos_sim
              |FROM embeddings
              |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
    ),
    QueryDef(
      "q84_ann_hnsw",
      (s, dir) => {
        // sharded HNSW (graft.operators.Hnsw): per-partition graphs built in
        // mapPartitions, md5-deterministic levels. Oracle-checkable via
        // EXACT RE-RANK: each shard emits its best max(ef, shard size)
        // candidate ids (structurally exhaustive per shard — exactness does
        // not depend on beam recall or corpus size), and the union is
        // re-scored against the embeddings table with brute-force double
        // arithmetic, so the result equals the brute-force oracle
        // hash-for-hash (the q81 SQL verbatim).
        import graft.operators.Hnsw
        val idx = graft.QueryUtil.tempDir("graft-hnsw")
          .resolve("idx").toString
        val emb = T(s, dir, "embeddings")
        Hnsw.buildIndex(emb, "embedding", "vec_id", idx, shards = 4)
        Hnsw.searchRerank(emb, "embedding", "vec_id", idx, queryVec, 10, ef = 256)
          .select(col("vec_id"), round(col("cos_sim"), 6).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
      },
      Some(s"""SELECT vec_id, round(
              |  list_dot_product(embedding::DOUBLE[], $queryVecSql) /
              |  (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
              |   sqrt(list_dot_product($queryVecSql, $queryVecSql))), 6) AS cos_sim
              |FROM embeddings
              |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
    ),
    QueryDef(
      "q168_hnsw_recall",
      (s, dir) => {
        // TRUE HNSW graph traversal under a measured contract (the q150
        // shape): unlike q84's structurally-exhaustive rerank, here ef
        // (32) is strictly below every shard size, so results come from
        // the greedy-descent + layer-0 beam search alone — and the gate
        // asserts that path actually ran (graph_path_ok compares ef to
        // the smallest shard). Contract per query vector: the returned
        // 10 ids, re-scored EXACTLY, must contain the global exact NN at
        // rank 1 (hash-fails if traversal ever misses it), recall@10 vs
        // the exact top-10 must clear 0.7 (measured 0.9-1.0 across the
        // three SFs), and k rows must come back.
        import graft.operators.{ExactAnn, Hnsw}
        import s.implicits._
        val idx = graft.QueryUtil.tempDir("graft-hnswr")
          .resolve("idx").toString
        val emb = T(s, dir, "embeddings")
        Hnsw.buildIndex(emb, "embedding", "vec_id", idx, shards = 4)
        val efUsed = 32
        val queries = Seq(1 -> queryVec, 2 -> queryVec2)
        def cosCol(q: Seq[Double]) = aggregate(zip_with(
          ExactAnn.normalized(col("embedding")),
          unitCol(q), (x, y) => x * y), lit(0.0), (a, x) => a + x)
        // exact-control top-10s for BOTH probes from ONE scan (guide §2.4;
        // r15 ran one TakeOrdered scan per probe) — same cosine expression,
        // same (cos desc, vec_id) total order, so identical surviving ids
        val exactBoth = emb
          .select(col("vec_id").cast("long").as("vec_id"),
            explode(array(queries.map { case (qid, q) =>
              struct(lit(qid).as("qid"), cosCol(q).as("cos")) }: _*)).as("qc"))
          .select(col("qc.qid").as("qid"), col("vec_id"), col("qc.cos").as("cos"))
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
              .orderBy(col("cos").desc, col("vec_id"))))
          .filter(col("rk") <= 10)
        // phase 1 overlapped (guide §2.6): the min-shard summary read, the
        // two graph traversals and the shared exact control are independent
        val p1 = graft.QueryUtil.inParallel(Seq[() => Any](
          () => s.read.parquet(idx).select(col("graph"))
            .as[Array[Byte]].collect().map(Hnsw.deserialize(_).size).min,
          () => Hnsw.search(s, idx, queryVec, k = 10, ef = efUsed)
            .collect().map(_.getLong(0)),
          () => Hnsw.search(s, idx, queryVec2, k = 10, ef = efUsed)
            .collect().map(_.getLong(0)),
          () => exactBoth.collect(),
        ))
        val minShard = p1(0).asInstanceOf[Int]
        val idsByQid = Map(1 -> p1(1).asInstanceOf[Array[Long]],
          2 -> p1(2).asInstanceOf[Array[Long]])
        val exactIds = p1(3).asInstanceOf[Array[org.apache.spark.sql.Row]]
          .groupBy(_.getInt(0)).view
          .mapValues(_.map(_.getLong(1)).toSet).toMap
        // phase 2 overlapped: each traversal's exact re-score (double
        // cosine) only depends on its own candidate ids
        val p2 = graft.QueryUtil.inParallel(queries.map { case (qid, q) =>
          () => emb
            .filter(col("vec_id").cast("long")
              .isInCollection(idsByQid(qid).toSet))
            .select(col("vec_id").cast("long").as("vec_id"),
              cosCol(q).as("cos"))
            .orderBy(col("cos").desc, col("vec_id")).collect()
        })
        queries.zipWithIndex.map { case ((qid, _), i) =>
          val ids = idsByQid(qid)
          val rescored = p2(i)
          val recall = ids.toSet.intersect(exactIds(qid)).size / 10.0
          (qid, rescored.head.getLong(0),
            BigDecimal(rescored.head.getDouble(1)).setScale(6,
              BigDecimal.RoundingMode.HALF_UP).toDouble,
            recall >= 0.7, ids.length == 10, efUsed < minShard)
        }.toDF("qid", "nn_vec_id", "nn_cos", "recall_ok", "k_ok",
            "graph_path_ok")
          .orderBy("qid")
      },
      Some(s"""WITH sc AS (
              |  SELECT 1 AS qid, $queryVecSql AS q
              |  UNION ALL SELECT 2, $queryVec2Sql),
              |ranked AS (
              |  SELECT qid, vec_id,
              |    round(list_dot_product(embedding::DOUBLE[], q) /
              |      (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
              |       sqrt(list_dot_product(q, q))), 6) AS c,
              |    row_number() OVER (PARTITION BY qid ORDER BY
              |      list_dot_product(embedding::DOUBLE[], q) /
              |      (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
              |       sqrt(list_dot_product(q, q))) DESC, vec_id) AS rk
              |  FROM embeddings, sc)
              |SELECT qid, vec_id AS nn_vec_id, c AS nn_cos,
              |  TRUE AS recall_ok, TRUE AS k_ok, TRUE AS graph_path_ok
              |FROM ranked WHERE rk = 1 ORDER BY qid""".stripMargin),
    ),
    QueryDef(
      "q90_bm25",
      (s, dir) => {
        // BM25 keyword search over the corpus (graft.functions.Ranking):
        // postings filtered to the query's terms BEFORE the shuffle, corpus
        // stats broadcast, top-k via TakeOrderedAndProject. Reference has no
        // ranking surface — north-star text-retrieval op.
        graft.functions.Ranking.bm25(
          T(s, dir, "documents"), "doc_id", "text",
          query = "spark join vector", topK = 25)
      },
      Some("""WITH base AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
             |  FROM documents),
             |base2 AS (SELECT doc_id, len(toks) AS dl, toks FROM base),
             |hits AS (
             |  SELECT doc_id, dl, term, count(*) AS tf
             |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM base2)
             |  WHERE term IN ('spark', 'join', 'vector')
             |  GROUP BY 1, 2, 3),
             |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base2),
             |dft AS (SELECT term, count(*) AS df FROM hits GROUP BY 1),
             |scored AS (
             |  SELECT h.doc_id,
             |    round(sum(
             |      ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
             |      * h.tf * 2.2
             |      / (h.tf + 1.2 * (1.0 - 0.75 + 0.75 * h.dl / s.avgdl))), 4) AS bm25,
             |    count(*) AS terms_hit
             |  FROM hits h
             |  CROSS JOIN stats s
             |  JOIN dft d ON h.term = d.term
             |  GROUP BY 1)
             |SELECT doc_id, bm25, terms_hit FROM scored
             |ORDER BY bm25 DESC, doc_id LIMIT 25""".stripMargin),
    ),
    QueryDef(
      "q91_tfidf_keywords",
      (s, dir) => {
        // TF-IDF keyword extraction: full inverted-index build (one shuffle
        // on (doc, term)), vocabulary df join on term, per-doc top-2 via a
        // window partitioned on the high-cardinality doc id. Bounded to a
        // doc range only to keep the oracle result small.
        val docs = T(s, dir, "documents").where(col("doc_id") < 40)
        graft.functions.Ranking.topTfidfTerms(docs, "doc_id", "text", k = 2)
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id"), col("rk")))
      },
      Some("""WITH base AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
             |  FROM documents WHERE doc_id < 40),
             |post AS (
             |  SELECT doc_id, dl, term, count(*) AS tf
             |  FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base)
             |  GROUP BY 1, 2, 3),
             |dft AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
             |stats AS (SELECT count(*) AS n_docs FROM base),
             |scored AS (
             |  SELECT p.doc_id, p.term,
             |    round(p.tf * (ln((1.0 + s.n_docs) / (1.0 + d.df)) + 1.0), 4) AS tfidf
             |  FROM post p JOIN dft d ON p.term = d.term CROSS JOIN stats s),
             |ranked AS (
             |  SELECT doc_id, term, tfidf,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
             |  FROM scored)
             |SELECT doc_id, term, tfidf, rk FROM ranked WHERE rk <= 2
             |ORDER BY doc_id, rk""".stripMargin),
    ),
    QueryDef(
      "q92_int8_ann",
      (s, dir) => {
        // Symmetric int8 quantized ANN (graft.operators.Quantize): one
        // global max-abs scale (scalar metadata agg), map-only int8
        // encode, INTEGER-dot top-k — the linear (offset-free) transform
        // keeps integer-dot ranking proportional to true-dot ranking, and
        // integer math makes the oracle replicate results EXACTLY (unlike
        // any float-accumulation similarity). 4x compression is the scale
        // path for a 100 TB embedding store.
        import graft.operators.Quantize
        val emb = T(s, dir, "embeddings")
        val scale = Quantize.scaleStat(emb, "embedding")
        Quantize.searchQuantized(emb, "embedding", "vec_id", queryVec, 10, scale)
      },
      Some {
        // query codes are a pure function of the literal query vector —
        // precomputed here so the oracle shares the exact integers.
        val qc = graft.operators.Quantize.encodeQuery(queryVec)
          .mkString("[", ", ", "]::BIGINT[]")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |sc AS (
           |  SELECT max(abs(v)) AS s
           |  FROM (SELECT unnest(emb) AS v FROM e)),
           |codes AS (
           |  SELECT vec_id, i,
           |    CASE WHEN sc.s > 0 THEN least(greatest(
           |      round(emb[i] / sc.s * 127), -127), 127)
           |    ELSE 0 END::BIGINT AS c
           |  FROM e, range(1, 65) t(i), sc)
           |SELECT vec_id, sum(c * ($qc)[i])::BIGINT AS qdot
           |FROM codes
           |GROUP BY vec_id ORDER BY qdot DESC, vec_id LIMIT 10""".stripMargin
      },
    ),
    QueryDef(
      "q93_pii_redact",
      (s, dir) => {
        // PII scrub (graft.functions.TextFunctions.redactPii): map-only
        // regexp redaction of emails / phones / IPv4s with typed
        // placeholders + per-row match counts — the standard pre-training
        // privacy pass. The corpus has no organic PII, so rows synthesize
        // one of each (identically in the oracle) on 2/3 of the docs; the
        // regex dialect is the RE2 ∩ Java subset so both engines match
        // identical spans.
        import graft.functions.TextFunctions
        val synth = concat(
          substring(col("text"), 1, 40),
          lit(" email user"), col("doc_id").cast("string"),
          lit("@example.com call 555-123-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" ip 10.1."), (col("doc_id") % 256).cast("string"), lit(".7 end"))
        val t = when(col("doc_id") % 3 === 0, substring(col("text"), 1, 40))
          .otherwise(synth)
        T(s, dir, "documents").where(col("doc_id") < 150)
          .select(col("doc_id"),
            TextFunctions.redactPii(t).as("redacted"),
            TextFunctions.piiCount(t).as("n_pii"))
          .orderBy(col("doc_id"))
      },
      Some {
        val (em, ph, ip) = (graft.functions.TextFunctions.emailRe,
          graft.functions.TextFunctions.phoneRe,
          graft.functions.TextFunctions.ipv4Re)
        s"""WITH synth AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 3 = 0 THEN substr(text, 1, 40)
           |    ELSE substr(text, 1, 40) || ' email user' || doc_id ||
           |      '@example.com call 555-123-' ||
           |      lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
           |      ' ip 10.1.' || (doc_id % 256) || '.7 end'
           |    END AS t
           |  FROM documents WHERE doc_id < 150)
           |SELECT doc_id,
           |  regexp_replace(regexp_replace(regexp_replace(
           |    t, '$em', '<EMAIL>', 'g'), '$ph', '<PHONE>', 'g'),
           |    '$ip', '<IP>', 'g') AS redacted,
           |  (len(regexp_extract_all(t, '$em'))
           |   + len(regexp_extract_all(
           |       regexp_replace(t, '$em', '<EMAIL>', 'g'), '$ph'))
           |   + len(regexp_extract_all(regexp_replace(
           |       regexp_replace(t, '$em', '<EMAIL>', 'g'),
           |       '$ph', '<PHONE>', 'g'), '$ip')))::BIGINT AS n_pii
           |FROM synth ORDER BY doc_id""".stripMargin
      },
    ),
    QueryDef(
      "q94_decontaminate",
      (s, dir) => {
        // Benchmark decontamination (graft.operators.Dedup.decontaminate):
        // distinct 13-word-gram overlap between each training doc and a
        // held-out "benchmark" slice (doc_id % 7 = 0 stands in for the
        // eval suite). Scale shape: map-only gram explosion on both sides,
        // benchmark gram set BROADCAST (eval suites are MBs vs a 100 TB
        // corpus), one distinct-count shuffle keyed on doc id.
        import graft.operators.Dedup
        val docs = T(s, dir, "documents")
        Dedup.decontaminate(
          // one-row-group corpus file: fan the heavy train-side gram
          // explosion out across cores (q32/q35 discipline; at 100 TB
          // inputs arrive pre-split and this shuffle disappears)
          docs.where(col("doc_id") % 7 =!= 0).repartition(graft.QueryUtil.Fanout, col("doc_id")),
          docs.where(col("doc_id") % 7 === 0),
          "text", "doc_id", n = 13)
          .orderBy(col("doc_id"))
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
      "q145_bloom_decontam",
      (s, dir) => {
        // The q94 decontamination's SCALE PATH: when the "benchmark" side
        // outgrows an exact broadcast set (corpus-vs-corpus decontam),
        // its gram set ships as a distributed-built Bloom filter
        // (operators/Bloom: per-task bit-OR partial aggregation — the
        // driver holds m/64 longs, never a key set; Kirsch-Mitzenmacher
        // double hashing). Gate: the exact contamination flags are
        // SQL-derivable; Bloom guarantees NO false negatives (gated
        // per-doc) and the measured false-positive rate stays under the
        // design bound (gated as a global flag; 2^20 bits vs ~10^4 grams
        // puts the theoretical FPR near zero).
        import graft.operators.{Bloom, Dedup}
        val docs = T(s, dir, "documents")
        val train = docs.where(col("doc_id") % 7 =!= 0)
          .repartition(graft.QueryUtil.Fanout, col("doc_id"))
        val bench = docs.where(col("doc_id") % 7 === 0)
        val exact = Dedup.decontaminate(train, bench, "text", "doc_id")
          .withColumnRenamed("doc_id", "eid")
        val bloomed = Bloom.decontaminateBloom(train, bench, "text", "doc_id")
          .withColumnRenamed("doc_id", "bid")
        // localCheckpoint: `joined` (one row per train doc — bounded) is
        // executed TWICE otherwise — once for the fpRate scalar below and
        // once as the returned frame — and each execution re-runs BOTH
        // gram pipelines (exact + bloom) end to end (r15, guide §1.2:
        // don't compute things twice).
        // Scale trade (r15 verdict item 9): this frame grows with the
        // train corpus, and localCheckpoint pins it in EXECUTOR-LOCAL
        // storage with lineage truncated — an executor loss fails the
        // query instead of recomputing. Materializing once still beats
        // executing the gram pipelines twice at any scale; on a real
        // cluster swap for persist(MEMORY_AND_DISK) + a count() action
        // (keeps lineage for recovery) or a reliable checkpoint dir.
        val joined = train.select(col("doc_id"))
          .join(exact, col("doc_id") === col("eid"), "left")
          .join(bloomed, col("doc_id") === col("bid"), "left")
          .select(col("doc_id"),
            col("eid").isNotNull.as("exact_hit"),
            coalesce(col("bloom_contaminated"), lit(false)).as("bloom_hit"))
          .localCheckpoint(true)
        val fpRate = joined
          .agg(avg((col("bloom_hit") && !col("exact_hit")).cast("double")))
          .head().getDouble(0) // ONE scalar on the driver
        joined.select(col("doc_id"), col("exact_hit"),
            (col("bloom_hit") || !col("exact_hit")).as("no_false_neg"),
            lit(fpRate <= 0.05).as("fp_rate_ok"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
             |  FROM documents),
             |pos AS (SELECT doc_id, t,
             |  unnest(range(1, greatest(len(t) - 11, 1))) AS i FROM toks),
             |grams AS (SELECT doc_id, array_to_string(t[i:i+12], ' ') AS g
             |  FROM pos),
             |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 7 = 0),
             |hits AS (SELECT DISTINCT grams.doc_id FROM grams
             |  JOIN bench ON grams.g = bench.g WHERE grams.doc_id % 7 <> 0)
             |SELECT d.doc_id, (h.doc_id IS NOT NULL) AS exact_hit,
             |  TRUE AS no_false_neg, TRUE AS fp_rate_ok
             |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
             |WHERE d.doc_id % 7 <> 0 ORDER BY d.doc_id""".stripMargin),
    ),
    QueryDef(
      "q95_repetition",
      (s, dir) => {
        // Gopher-style repetition signals (Rae et al. 2021 §A1.1): the
        // duplicate-2-gram fraction is computed PER ROW with array HOFs
        // (map-only, no shuffle); the top-word fraction needs per-(doc,
        // word) counts — one shuffle with map-side combine, then a per-doc
        // reduce. Both are exact integer ratios so the rounded doubles
        // match the oracle bit-for-bit.
        import graft.functions.TextFunctions
        val docs = T(s, dir, "documents").where(col("doc_id") < 300)
        val toks = TextFunctions.tokens(lower(col("text")))
        val g2 = TextFunctions.wordNgrams(toks, 2)
        val perRow = docs.select(col("doc_id"),
          round(lit(1.0) - size(array_distinct(g2)).cast("double") / size(g2), 4)
            .as("dup_2gram_frac"))
        val topWord = docs
          .select(col("doc_id"), explode(toks).as("w"))
          .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(round(max("c").cast("double") / sum("c"), 4).as("top_word_frac"))
        perRow.join(topWord, "doc_id").orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
             |  FROM documents WHERE doc_id < 300),
             |pos AS (SELECT doc_id, tk,
             |  unnest(range(1, greatest(len(tk), 1))) AS i FROM toks),
             |grams AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS g FROM pos),
             |d2 AS (SELECT doc_id,
             |  round(1 - count(DISTINCT g)::DOUBLE / count(*), 4) AS dup_2gram_frac
             |  FROM grams GROUP BY 1),
             |wc AS (SELECT doc_id, w, count(*) AS c
             |  FROM (SELECT doc_id, unnest(tk) AS w FROM toks) GROUP BY 1, 2),
             |tw AS (SELECT doc_id,
             |  round(max(c)::DOUBLE / sum(c), 4) AS top_word_frac
             |  FROM wc GROUP BY 1)
             |SELECT d2.doc_id, dup_2gram_frac, top_word_frac
             |FROM d2 JOIN tw USING (doc_id) ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q96_pdf_chunker",
      (s, dir) => {
        // document_splitter separator='page' over REAL PDFs (reference
        // `functions/document.py:180-205` page metadata via pypdfium2): each
        // document renders to a multi-page PDF (200 chars/page — the
        // SQL-reproducible pagination), which is then parsed back through
        // the page tree + FlateDecode content-stream extractor; one chunk
        // per page with 1-based `page` metadata. Map-only at scale: render,
        // parse and explode all distribute with the scan, no shuffle.
        import graft.functions.Pdf
        T(s, dir, "documents").filter(col("doc_id") < 50)
          .select(col("doc_id"), Pdf.textToPdf(col("text"), 200).as("pdf"))
          .select(col("doc_id"),
            posexplode(Pdf.pdfPages(col("pdf"))).as(Seq("pidx", "page_text")))
          .select(col("doc_id"), (col("pidx") + 1).cast("long").as("page"),
            col("page_text"),
            length(col("page_text")).cast("long").as("page_len"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id"), col("page")))
      },
      Some("""SELECT doc_id, r.idx + 1 AS page, r.chunk AS page_text,
             |length(r.chunk) AS page_len FROM (
             |  SELECT doc_id, unnest(list_transform(
             |    [substr(text, s, 200) for s in generate_series(1, greatest(length(text), 1), 200)],
             |    (c, i) -> {'idx': i - 1, 'chunk': c})) AS r
             |  FROM documents WHERE doc_id < 50)
             |ORDER BY doc_id, page""".stripMargin),
    ),
    QueryDef(
      "q97_gopher_rules",
      (s, dir) => {
        // Gopher document-level quality rules (Rae et al. 2021, table A1 —
        // the filter battery FineWeb/Dolma reuse): word-count bounds, mean
        // word length in [3, 10], alphabetic-word fraction ≥ 0.8, ≥ 2
        // stop-word hits. Map-only per-row HOFs — no shuffle, the shape
        // that matters when this gates a 100 TB corpus. All derived
        // doubles are exact integer ratios rounded once, so the oracle
        // matches bit-for-bit.
        val toks = graft.functions.TextFunctions.tokens(lower(col("text")))
        val stopHits = filter(toks, t =>
          t.isin("the", "and", "is", "in", "to", "of"))
        val alphaToks = filter(toks, t => t.rlike("^[a-z]+$"))
        val sumLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
        T(s, dir, "documents")
          .select(col("doc_id"), toks.as("_t"), size(stopHits).as("_stop"),
            size(alphaToks).as("_alpha"), sumLen.as("_chars"))
          .select(col("doc_id"),
            size(col("_t")).cast("long").as("n_words"),
            round(col("_chars").cast("double") / size(col("_t")), 4)
              .as("mean_word_len"),
            round(col("_alpha").cast("double") / size(col("_t")), 4)
              .as("alpha_frac"),
            col("_stop").cast("long").as("stop_hits"))
          .withColumn("keep",
            col("n_words").between(50, 100000) &&
            col("mean_word_len").between(3.0, 10.0) &&
            col("alpha_frac") >= 0.8 && col("stop_hits") >= 2)
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
             |  FROM documents),
             |m AS (SELECT doc_id,
             |  len(tk)::BIGINT AS n_words,
             |  round(list_sum(list_transform(tk, x -> length(x)))::DOUBLE / len(tk), 4)
             |    AS mean_word_len,
             |  round(len(list_filter(tk, x -> regexp_full_match(x, '[a-z]+')))::DOUBLE
             |    / len(tk), 4) AS alpha_frac,
             |  len(list_filter(tk, x -> x IN ('the','and','is','in','to','of')))::BIGINT
             |    AS stop_hits
             |  FROM t)
             |SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
             |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
             |   AND alpha_frac >= 0.8 AND stop_hits >= 2) AS keep
             |FROM m ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q98_dedup_canonical",
      (s, dir) => {
        // transitive near-dup clustering to a canonical keeper: the exact
        // Jaccard edges of q34 (bounded id range — candidate generation at
        // scale is q33's LSH banding) collapsed by connectedComponents
        // (min-label propagation, one shuffle per round, converges in
        // graph-diameter rounds), keeper = smallest doc_id per component.
        // The oracle recomputes components with a DuckDB recursive CTE —
        // the first value-level gate on the CC operator (previously spec-
        // only via the union-find property test).
        val docs = T(s, dir, "documents")
          .filter(col("n_chars") >= 3 && col("doc_id") < 200)
          .select(col("doc_id"), array_sort(shingles(col("text"))).as("sh"))
        val edges = docs.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
          .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("shb")),
            col("doc_a") < col("doc_b") &&
            size(col("sha")).cast("double") >= lit(0.6) * size(col("shb")) &&
            size(col("shb")).cast("double") >= lit(0.6) * size(col("sha")))
          .select(col("doc_a"), col("doc_b"),
            size(col("sha")).as("_na"), size(col("shb")).as("_nb"),
            graft.plans.NativeVector.sortedIntersectCount(s,
              col("sha"), col("shb")).as("_ni"))
          .filter(col("_ni").cast("double") /
            (col("_na") + col("_nb") - col("_ni")) >= 0.6)
          .select(col("doc_a"), col("doc_b"))
        graft.operators.Dedup.connectedComponents(edges)
          .select(col("v").cast("long").as("doc_id"),
            col("component").cast("long").as("cluster_id"))
          .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some(s"""WITH RECURSIVE
              |pairs AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM
              |    (SELECT doc_id, $shinglesSql AS sh FROM documents
              |     WHERE n_chars >= 3 AND doc_id < 200) a
              |  JOIN
              |    (SELECT doc_id, $shinglesSql AS sh FROM documents
              |     WHERE n_chars >= 3 AND doc_id < 200) b
              |  ON a.doc_id < b.doc_id
              |  AND len(list_intersect(a.sh, b.sh))::DOUBLE /
              |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6),
              |edges AS (SELECT doc_a AS u, doc_b AS w FROM pairs
              |          UNION SELECT doc_b, doc_a FROM pairs),
              |walk(v, lbl) AS (
              |  SELECT DISTINCT u, u FROM edges
              |  UNION
              |  SELECT e.w, walk.lbl FROM walk JOIN edges e ON e.u = walk.v)
              |SELECT v AS doc_id, min(lbl) AS cluster_id,
              |  (v = min(lbl)) AS is_canonical
              |FROM walk GROUP BY v ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q99_rolling_window",
      (s, dir) => {
        // rolling 1-hour per-user event stats — a TIME-based bounded RANGE
        // frame through RangeFrame's bucketed shape (microsecond order key,
        // bucket = 4h): user_id is high-cardinality already, but the
        // bucketing also bounds power-law users (one hot user's history
        // splits across time buckets instead of one task). count is exact;
        // the sum is rounded once (2 dp) as everywhere else.
        val base = T(s, dir, "events")
          .filter(col("user_id") < 50)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("_us"), col("value"))
        graft.operators.RangeFrame.withBoundedFrames(
            base, Seq(col("user_id")), col("_us"), 3600L * 1000000,
            Seq(
              "n_1h" -> (w => count(lit(1)).over(w)),
              "sum_1h" -> (w => round(sum(col("value")).over(w), 2))))
          .select(col("event_id"), col("user_id"), col("n_1h"),
            col("sum_1h"))
          .transform(graft.QueryUtil.orderedSmall(_,
            col("event_id"), col("user_id")))
      },
      Some("""SELECT event_id, user_id,
             |count(*) OVER w AS n_1h,
             |round(sum(value) OVER w, 2) AS sum_1h
             |FROM events WHERE user_id < 50
             |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id, user_id""".stripMargin),
    ),
    QueryDef(
      "q100_semantic_neardup",
      (s, dir) => {
        // embedding-space near-dup pairs over the FULL table via the
        // cluster-pruned EXACT similarity self-join (SemDeDup clustering
        // shape + ExactAnn's triangle-inequality bound): rows shuffle once
        // on their k-means cluster and compare only within cluster pairs
        // whose centroid-distance/radii bound admits cos >= tau — never
        // all-pairs (q31 is the bounded-id brute-force baseline). The
        // oracle is the brute-force join: exactness is unconditional on
        // clustering quality, so the hash gate holds at any corpus.
        // maxIter 4: on synthetic near-random vectors Lloyd's never
        // converges early and clustering quality only affects PRUNING,
        // never the (oracle-gated) answer — fewer fit jobs, same rows
        graft.operators.Dedup.semanticNearDupPairs(
            T(s, dir, "embeddings"), "embedding", "vec_id", tau = 0.4, k = 8,
            maxIter = 4)
          .transform(graft.QueryUtil.orderedSmall(_, col("vec_a"), col("vec_b")))
      },
      Some("""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, round(
             |  list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             |  (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
             |   sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos_sim
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE round(
             |  list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             |  (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
             |   sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) >= 0.4
             |ORDER BY vec_a, vec_b""".stripMargin),
    ),
    QueryDef(
      "q101_stream_hourly",
      (s, dir) => {
        // batch-stream EQUIVALENCE gate: q39's event-time aggregation run
        // through Structured Streaming (parquet file source → AvailableNow
        // trigger → complete-mode memory sink) must produce the batch
        // answer bit-for-bit, so ONE DuckDB oracle gates both engines.
        // Complete mode because a bounded replay's watermark never passes
        // the last windows (append mode would hold them back forever);
        // unbounded production pipelines use the watermarked append form
        // (Streaming.windowedCounts, StreamingSpec).
        import org.apache.spark.sql.streaming.Trigger
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val raw = s.read.parquet(s"$dir/events.parquet")
        // the file source ingests DIRECTORIES (files arriving over time);
        // the corpus table is one file — stage it via symlink, zero copy
        val stage = graft.QueryUtil.tempDir("q101_in")
        java.nio.file.Files.createSymbolicLink(
          stage.resolve("events.parquet"),
          java.nio.file.Paths.get(dir, "events.parquet").toAbsolutePath)
        val stream = s.readStream.schema(raw.schema).parquet(stage.toString)
          .withColumn("ts", T.normalizeTs(raw))
        val agg = stream
          .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hr"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"),
            round(round(sum(col("value")), 2) / count(lit(1)), 6).as("avg_v"))
        val qname = "q101_mem_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        val ck = graft.QueryUtil.tempDir("q101_ck").toString
        val sq = agg.writeStream.format("memory").queryName(qname)
          .outputMode("complete")
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .start()
        sq.awaitTermination()
        s.table(qname)
          .transform(graft.QueryUtil.orderedSmall(_, col("hr"), col("event_type")))
      },
      Some("""SELECT date_trunc('hour', ts) AS hr, event_type,
             |count(*) AS n, round(sum(value), 2) AS total,
             |round(round(sum(value), 2) / count(*), 6) AS avg_v
             |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin),
    ),
    QueryDef(
      "q102_corpus_pipeline",
      (s, dir) => {
        // END-TO-END training-data curation, the operators composed the way
        // a real corpus run chains them: Gopher-style quality gate → exact
        // dedup (md5 keep-min-id) → SimHash near-dup keep-one (native
        // kernel) → 13-gram benchmark decontamination (broadcast gram set).
        // One composite oracle hash-gates the whole pipeline. Every stage
        // is map-only or a single keyed shuffle; the explicit repartition
        // fans the one-row-group corpus file out (pre-split at scale).
        import graft.functions.TextFunctions
        val toksC = TextFunctions.tokens(lower(col("text")))
        val base = T(s, dir, "documents").where(col("doc_id") % 7 =!= 0)
          .repartition(graft.QueryUtil.Fanout, col("doc_id"))
          .select(col("doc_id"), col("text"), toksC.as("_tk"))
        val quality = base.select(col("doc_id"), col("text"), col("_tk"),
            size(col("_tk")).cast("long").as("n_words"),
            round(aggregate(col("_tk"), lit(0L), (a, t) => a + length(t))
              .cast("double") / size(col("_tk")), 4).as("_mwl"),
            size(filter(col("_tk"), t =>
              t.isin("the", "and", "is", "in", "to", "of"))).as("_stop"))
          .where(col("n_words").between(20, 100000) &&
            col("_mwl").between(3.0, 10.0) && col("_stop") >= 1)
        val deduped = graft.operators.Dedup.exact(quality, "text", "doc_id")
          .withColumn("simhash",
            graft.plans.TextNative.simhash16(s, col("_tk")))
        val wSim = org.apache.spark.sql.expressions.Window
          .partitionBy(col("simhash")).orderBy(col("doc_id"))
        val kept = deduped.withColumn("_rk", row_number().over(wSim))
          .filter(col("_rk") === 1)
        val contaminated = graft.operators.Dedup.decontaminate(
            kept, T(s, dir, "documents").where(col("doc_id") % 7 === 0),
            "text", "doc_id", n = 13)
          .select(col("doc_id"))
        kept.join(contaminated, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("n_words"), col("simhash"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some {
        val bits = (0 until 16).map { i =>
          s"CASE WHEN list_sum([CASE WHEN substr(md5(t), ${i + 1}, 1) >= '8' THEN 1 ELSE -1 END for t in tk]) > 0 THEN '1' ELSE '0' END"
        }.mkString(" || ")
        s"""WITH t AS (SELECT doc_id, text,
           |  string_split_regex(trim(lower(text)), '\\s+') AS tk
           |  FROM documents WHERE doc_id % 7 <> 0),
           |m AS (SELECT doc_id, text, tk, len(tk)::BIGINT AS n_words,
           |  round(list_sum(list_transform(tk, x -> length(x)))::DOUBLE
           |    / len(tk), 4) AS mwl,
           |  len(list_filter(tk, x -> x IN ('the','and','is','in','to','of')))
           |    AS stop FROM t),
           |q AS (SELECT * FROM m WHERE n_words BETWEEN 20 AND 100000
           |  AND mwl BETWEEN 3.0 AND 10.0 AND stop >= 1),
           |d AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
           |s AS (SELECT q.doc_id, q.n_words, q.tk, $bits AS simhash
           |  FROM q JOIN d USING (doc_id)),
           |k AS (SELECT min(doc_id) AS doc_id FROM s GROUP BY simhash),
           |bt AS (SELECT doc_id,
           |  string_split_regex(trim(lower(text)), '\\s+') AS tk
           |  FROM documents WHERE doc_id % 7 = 0),
           |bg AS (SELECT DISTINCT array_to_string(tk[i:i+12], ' ') AS g
           |  FROM (SELECT tk, unnest(range(1, greatest(len(tk) - 11, 1))) AS i
           |        FROM bt)),
           |tg AS (SELECT doc_id, array_to_string(tk[i:i+12], ' ') AS g
           |  FROM (SELECT s.doc_id, s.tk,
           |          unnest(range(1, greatest(len(s.tk) - 11, 1))) AS i
           |        FROM s JOIN k USING (doc_id))),
           |bad AS (SELECT DISTINCT doc_id FROM tg JOIN bg USING (g))
           |SELECT s.doc_id, s.n_words, s.simhash
           |FROM s JOIN k USING (doc_id)
           |WHERE s.doc_id NOT IN (SELECT doc_id FROM bad)
           |ORDER BY doc_id""".stripMargin
      },
    ),
    QueryDef(
      "q110_hybrid_rrf",
      (s, dir) => {
        // Hybrid retrieval — RAG's standard fusion shape: the lexical
        // BM25 top-100 and the semantic cosine top-100 fused with
        // Reciprocal Rank Fusion (Cormack et al. 2009, score =
        // Σ 1/(60 + rank); a doc absent from a list contributes 0).
        // Scale shape: both candidate lists arrive via
        // TakeOrderedAndProject (per-partition heaps, no global corpus
        // sort); the ranking windows and the full-outer fusion join then
        // run on ≤100-row bounded sets, so the plan is corpus-size-
        // independent. Ranks are taken over ROUNDED scores (4dp BM25,
        // 6dp cosine) with a doc_id tiebreak so both engines order
        // identically.
        import org.apache.spark.sql.expressions.Window
        val lex = graft.functions.Ranking.bm25(
            T(s, dir, "documents"), "doc_id", "text",
            query = "spark join vector", topK = 100)
          .select(col("doc_id"), col("bm25"))
        val lexR = lex.withColumn("r_lex",
          row_number().over(Window.orderBy(col("bm25").desc, col("doc_id")))
            .cast("long"))
        val e = col("embedding").cast("array<double>")
        val sem = T(s, dir, "embeddings")
          .select(col("vec_id").as("doc_id"),
            round(cosine(s, e, queryVecCol), 6).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("doc_id"))
          .limit(100)
        val semR = sem.withColumn("r_sem",
          row_number().over(Window.orderBy(col("cos_sim").desc, col("doc_id")))
            .cast("long"))
        lexR.join(semR, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            round(
              coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
                coalesce(lit(1.0) / (lit(60) + col("r_sem")), lit(0.0)),
              6).as("rrf"),
            col("r_lex"), col("r_sem"))
          .orderBy(col("rrf").desc, col("doc_id"))
          .limit(20)
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
              |  FROM documents),
              |base2 AS (SELECT doc_id, len(toks) AS dl, toks FROM base),
              |hits AS (
              |  SELECT doc_id, dl, term, count(*) AS tf
              |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM base2)
              |  WHERE term IN ('spark', 'join', 'vector')
              |  GROUP BY 1, 2, 3),
              |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base2),
              |dft AS (SELECT term, count(*) AS df FROM hits GROUP BY 1),
              |scored AS (
              |  SELECT h.doc_id,
              |    round(sum(
              |      ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
              |      * h.tf * 2.2
              |      / (h.tf + 1.2 * (1.0 - 0.75 + 0.75 * h.dl / s.avgdl))), 4) AS bm25
              |  FROM hits h CROSS JOIN stats s JOIN dft d ON h.term = d.term
              |  GROUP BY 1),
              |lex AS (SELECT doc_id, bm25 FROM scored
              |  ORDER BY bm25 DESC, doc_id LIMIT 100),
              |lexr AS (SELECT doc_id,
              |  row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex FROM lex),
              |sem AS (
              |  SELECT vec_id AS doc_id, round(
              |    list_dot_product(embedding::DOUBLE[], $queryVecSql) /
              |    (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
              |     sqrt(list_dot_product($queryVecSql, $queryVecSql))), 6) AS cos_sim
              |  FROM embeddings
              |  ORDER BY cos_sim DESC, doc_id LIMIT 100),
              |semr AS (SELECT doc_id,
              |  row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS r_sem FROM sem)
              |SELECT coalesce(l.doc_id, r.doc_id) AS doc_id,
              |  round(coalesce(1.0 / (60 + l.r_lex), 0) +
              |        coalesce(1.0 / (60 + r.r_sem), 0), 6) AS rrf,
              |  l.r_lex, r.r_sem
              |FROM lexr l FULL JOIN semr r ON l.doc_id = r.doc_id
              |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin),
    ),
    QueryDef(
      "q111_html_extract",
      (s, dir) => {
        // HTML → main-content extraction (the CommonCrawl step): each
        // document is wrapped in a deterministic page template (nav +
        // title + styled head + footer) and run through the tag-soup
        // scanner with link-density boilerplate dropping
        // (functions.Html); the oracle reconstructs the expected text
        // from the source column, so scan + entity decode + block
        // segmentation + boilerplate drop are all hash-gated. Map-only
        // UDF — the operator scales with the scan, no shuffle.
        val page = concat(
          lit("<html><head><title>Doc "), col("doc_id").cast("string"),
          lit("</title><style>p{x:1}</style></head><body>" +
            "<nav><a href=\"/\">home</a> <a href=\"/i\">index</a></nav><p>"),
          col("text"),
          lit("</p><footer><a href=\"/p\">privacy</a></footer></body></html>"))
        T(s, dir, "documents")
          .select(col("doc_id"),
            graft.functions.Html.htmlMainText(page).as("text_out"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, 'Doc ' || doc_id || chr(10) ||
             |trim(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g')) AS text_out
             |FROM documents ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q112_length_histogram",
      (s, dir) => {
        // Sequence-length histogram — the context-length planning stat
        // every pretraining run derives before choosing pack capacity
        // (pairs with q104's packer): docs bucketed by floor(log2(token
        // count)), per-bucket doc count, token mass, and corpus share.
        // Map-only token count + one tiny groupBy; the share is computed
        // from a broadcast scalar (sum window over the 1-row-per-bucket
        // aggregate), so nothing global ever shuffles rows.
        // floor(log2(n)) computed integer-exactly as bitlength(n)-1 —
        // float log2 disagrees between engines by one ulp at exact powers
        // of two, which flips the bucket
        val toks = size(split(trim(col("text")), "\\s+")).cast("long")
        val bucketed = T(s, dir, "documents")
          .select((length(conv(greatest(toks, lit(1L)).cast("string"),
            10, 2)) - 1).cast("long").as("len_bucket"), toks.as("n_tok"))
          .groupBy(col("len_bucket"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
        bucketed
          .withColumn("token_share", round(col("tokens") /
            sum(col("tokens")).over(
              org.apache.spark.sql.expressions.Window.partitionBy()), 6))
          .orderBy(col("len_bucket"))
      },
      Some("""WITH t AS (
             |  SELECT (length(bin(greatest(
             |      len(string_split_regex(trim(text), '\s+')), 1))) - 1)::BIGINT
             |      AS len_bucket,
             |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tok
             |  FROM documents),
             |b AS (
             |  SELECT len_bucket, count(*) AS n_docs,
             |    sum(n_tok)::BIGINT AS tokens
             |  FROM t GROUP BY 1)
             |SELECT len_bucket, n_docs, tokens,
             |  round(tokens / (SELECT sum(tokens)::DOUBLE FROM b), 6)
             |    AS token_share
             |FROM b ORDER BY len_bucket""".stripMargin),
    ),
    QueryDef(
      "q118_pagerank_neardup",
      (s, dir) => {
        // PageRank centrality over the near-duplicate graph (q98's exact-
        // Jaccard edges; LSH banding q33 is the candidate-generation scale
        // path): which documents sit at the center of duplication
        // clusters. Five power iterations, each one equi-join (edges ×
        // ranks) + one groupBy on the destination — the canonical
        // iterative-shuffle shape; Iterate.loop truncates lineage with an
        // eager localCheckpoint per round so plan depth is constant in
        // the iteration count (PageRankSpec asserts this). Engine
        // parity: ALL integer math — ranks in micro-units, contributions
        // via integer division (Spark `div` ≡ DuckDB `//` on
        // non-negatives), damping as (85·s)//100 + 150000 — so the hash
        // gate is exact with no float accumulation anywhere.
        import org.apache.spark.sql.DataFrame
        val docs = T(s, dir, "documents")
          .filter(col("n_chars") >= 3 && col("doc_id") < 200)
          .select(col("doc_id"), array_sort(shingles(col("text"))).as("sh"))
        val pairs = docs.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
          .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("shb")),
            col("doc_a") < col("doc_b") &&
            size(col("sha")).cast("double") >= lit(0.6) * size(col("shb")) &&
            size(col("shb")).cast("double") >= lit(0.6) * size(col("sha")))
          .select(col("doc_a"), col("doc_b"),
            size(col("sha")).as("_na"), size(col("shb")).as("_nb"),
            graft.plans.NativeVector.sortedIntersectCount(s,
              col("sha"), col("shb")).as("_ni"))
          .filter(col("_ni").cast("double") /
            (col("_na") + col("_nb") - col("_ni")) >= 0.6)
          .select(col("doc_a"), col("doc_b"))
        // LOOP-INVARIANT subplans materialized ONCE (r15, guide §1.2):
        // deg, nodes and the edges⋈deg join are identical every round, but
        // inside the loop they re-ran per iteration — one distinct + one
        // agg + one extra join per round, ~40% of the 5-round wall. The
        // integer rank math is unchanged, so the gate hash is unchanged.
        // Scale trade (r15 verdict item 9): the edge list grows with the
        // corpus and localCheckpoint is executor-local, non-recoverable
        // storage — right for bounded gate fixtures; on a real cluster
        // use persist(MEMORY_AND_DISK)+count (keeps lineage) or a
        // reliable checkpoint for corpus-sized loop invariants.
        val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("w"))
          .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("w")))
          .distinct().localCheckpoint(true)
        val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
        // (u, w, d): each edge with its source degree — the loop's join
        // input, invariant across rounds
        val edgeDeg = edges.join(deg, Seq("u")).localCheckpoint(true)
        val nodes = edges.select(col("u").as("v")).distinct()
          .localCheckpoint(true)
        val ranks: DataFrame = graft.operators.Iterate.loop(
          nodes.select(col("v"), lit(1000000L).as("r")), 5) { prev =>
          val contrib = edgeDeg
            .join(prev.withColumnRenamed("v", "u"), Seq("u"))
            .select(col("w").as("v"), expr("r div d").as("c"))
            .groupBy(col("v")).agg(sum(col("c")).as("s"))
          nodes.join(contrib, Seq("v"), "left")
            .select(col("v"),
              expr("150000L + (85L * coalesce(s, 0L)) div 100L").as("r"))
        }
        ranks.join(deg.withColumnRenamed("u", "v"), Seq("v"))
          .select(col("v").cast("long").as("doc_id"),
            col("d").cast("long").as("deg"), col("r").as("pr_micro"))
          .transform(graft.QueryUtil.orderedSmall(_, col("doc_id")))
      },
      Some(s"""WITH pairs AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM
              |    (SELECT doc_id, $shinglesSql AS sh FROM documents
              |     WHERE n_chars >= 3 AND doc_id < 200) a
              |  JOIN
              |    (SELECT doc_id, $shinglesSql AS sh FROM documents
              |     WHERE n_chars >= 3 AND doc_id < 200) b
              |  ON a.doc_id < b.doc_id
              |  AND len(list_intersect(a.sh, b.sh))::DOUBLE /
              |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6),
              |edges AS (SELECT doc_a AS u, doc_b AS w FROM pairs
              |          UNION SELECT doc_b, doc_a FROM pairs),
              |deg AS (SELECT u, count(*) AS d FROM edges GROUP BY 1),
              |n AS (SELECT DISTINCT u AS v FROM edges),
              |p0 AS (SELECT v, 1000000::BIGINT AS r FROM n),
              |p1 AS (SELECT n.v, 150000 + (85 * coalesce(c.s, 0)) // 100 AS r
              |  FROM n LEFT JOIN (SELECT e.w AS v, sum(p.r // d.d) AS s
              |    FROM edges e JOIN p0 p ON p.v = e.u JOIN deg d ON d.u = e.u
              |    GROUP BY 1) c ON c.v = n.v),
              |p2 AS (SELECT n.v, 150000 + (85 * coalesce(c.s, 0)) // 100 AS r
              |  FROM n LEFT JOIN (SELECT e.w AS v, sum(p.r // d.d) AS s
              |    FROM edges e JOIN p1 p ON p.v = e.u JOIN deg d ON d.u = e.u
              |    GROUP BY 1) c ON c.v = n.v),
              |p3 AS (SELECT n.v, 150000 + (85 * coalesce(c.s, 0)) // 100 AS r
              |  FROM n LEFT JOIN (SELECT e.w AS v, sum(p.r // d.d) AS s
              |    FROM edges e JOIN p2 p ON p.v = e.u JOIN deg d ON d.u = e.u
              |    GROUP BY 1) c ON c.v = n.v),
              |p4 AS (SELECT n.v, 150000 + (85 * coalesce(c.s, 0)) // 100 AS r
              |  FROM n LEFT JOIN (SELECT e.w AS v, sum(p.r // d.d) AS s
              |    FROM edges e JOIN p3 p ON p.v = e.u JOIN deg d ON d.u = e.u
              |    GROUP BY 1) c ON c.v = n.v),
              |p5 AS (SELECT n.v, 150000 + (85 * coalesce(c.s, 0)) // 100 AS r
              |  FROM n LEFT JOIN (SELECT e.w AS v, sum(p.r // d.d) AS s
              |    FROM edges e JOIN p4 p ON p.v = e.u JOIN deg d ON d.u = e.u
              |    GROUP BY 1) c ON c.v = n.v)
              |SELECT p5.v AS doc_id, deg.d::BIGINT AS deg,
              |  p5.r::BIGINT AS pr_micro
              |FROM p5 JOIN deg ON deg.u = p5.v
              |ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "q126_hard_negatives",
      (s, dir) => {
        // Contrastive hard-negative mining (beyond the reference): for each
        // probe vector, the k most-similar corpus vectors carrying a
        // DIFFERENT label — the negative sampler that builds contrastive
        // training pairs for embedding models. Probes are a broadcast
        // parameter set (never data-sized); scores are one map-side pass of
        // the fused native cosine kernel; the per-probe top-k is
        // `TopN.perGroup`, whose map-side group limit keeps any task from
        // sorting the whole corpus. Ranks are taken over ROUNDED scores
        // with a vec_id tiebreak (the q110 lesson: raw-double ranks flip on
        // engine ulp differences).
        import graft.operators.TopN
        val emb = T(s, dir, "embeddings")
        val probes = broadcast(emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("probe_id"),
            col("label").as("probe_label"),
            col("embedding").cast("array<double>").as("pe")))
        val scored = emb
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("e"))
          .join(probes, col("label") =!= col("probe_label"))
          .select(col("probe_id"), col("vec_id"),
            round(cosine(s, col("e"), col("pe")), 6).as("cos_sim"))
        TopN.perGroup(scored, Seq(col("probe_id")), Seq(col("cos_sim").desc, col("vec_id")), 5)
          .select(col("probe_id"), col("vec_id"), col("cos_sim"),
            col(TopN.RankCol).cast("long").as("rk"))
          .transform(graft.QueryUtil.orderedSmall(_, col("probe_id"), col("rk")))
      },
      Some("""WITH p AS (SELECT vec_id AS probe_id, label AS probe_label,
             |    embedding::DOUBLE[] AS pe
             |  FROM embeddings WHERE vec_id < 8),
             |s AS (SELECT p.probe_id, e.vec_id, round(
             |    list_dot_product(e.embedding::DOUBLE[], p.pe) /
             |    (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
             |     sqrt(list_dot_product(p.pe, p.pe))), 6) AS cos_sim
             |  FROM embeddings e JOIN p ON e.label <> p.probe_label)
             |SELECT probe_id, vec_id, cos_sim, rk FROM (
             |  SELECT *, row_number() OVER (PARTITION BY probe_id
             |    ORDER BY cos_sim DESC, vec_id) AS rk FROM s)
             |WHERE rk <= 5 ORDER BY probe_id, rk""".stripMargin),
    ),
    QueryDef(
      "q133_ndcg",
      (s, dir) => {
        // Graded retrieval-quality evaluation beyond q66's mean_ap:
        // NDCG@{5,10,25} over the q90 BM25 ranking with a synthetic
        // relevance grade (doc_id % 4). Per-position DCG contributions
        // round to integer micro-units BEFORE summation (the q117
        // pattern), so both engines sum identical integers in any order;
        // NDCG is the ratio of the two integer sums. IDCG is the ideal
        // reordering of the SAME retrieved set ("local" NDCG). The rank
        // windows are unpartitioned but run over exactly 25 rows — the
        // candidate set is already TakeOrderedAndProject-bounded.
        import org.apache.spark.sql.expressions.Window
        val cand = graft.functions.Ranking.bm25(
            T(s, dir, "documents"), "doc_id", "text",
            query = "spark join vector", topK = 25)
          .select(col("doc_id"), col("bm25"))
        val w = Window.orderBy(col("bm25").desc, col("doc_id"))
        val wI = Window.orderBy(col("rel").desc, col("doc_id"))
        val graded = cand
          .withColumn("rel", col("doc_id") % 4)
          .withColumn("rk", row_number().over(w))
          .withColumn("irk", row_number().over(wI))
          .withColumn("gain", pow(lit(2.0), col("rel")) - 1.0)
          .withColumn("dterm",
            round(col("gain") / log2(col("rk") + 1.0) * 1e6).cast("long"))
          .withColumn("iterm",
            round(col("gain") / log2(col("irk") + 1.0) * 1e6).cast("long"))
        val ks = s.createDataFrame(Seq(5, 10, 25).map(Tuple1(_))).toDF("k")
        graded.crossJoin(broadcast(ks))
          .groupBy(col("k"))
          .agg(
            sum(when(col("rk") <= col("k"), col("dterm")).otherwise(0L))
              .as("dcg_micro"),
            sum(when(col("irk") <= col("k"), col("iterm")).otherwise(0L))
              .as("idcg_micro"))
          .select(col("k").cast("long").as("k"), col("dcg_micro"),
            col("idcg_micro"),
            round(col("dcg_micro").cast("double") / col("idcg_micro"), 6)
              .as("ndcg"))
          .transform(graft.QueryUtil.orderedSmall(_, col("k")))
      },
      Some("""WITH base AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
             |  FROM documents),
             |base2 AS (SELECT doc_id, len(toks) AS dl, toks FROM base),
             |hits AS (
             |  SELECT doc_id, dl, term, count(*) AS tf
             |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM base2)
             |  WHERE term IN ('spark', 'join', 'vector')
             |  GROUP BY 1, 2, 3),
             |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base2),
             |dft AS (SELECT term, count(*) AS df FROM hits GROUP BY 1),
             |scored AS (
             |  SELECT h.doc_id,
             |    round(sum(
             |      ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
             |      * h.tf * 2.2
             |      / (h.tf + 1.2 * (1.0 - 0.75 + 0.75 * h.dl / s.avgdl))), 4) AS bm25
             |  FROM hits h
             |  CROSS JOIN stats s
             |  JOIN dft d ON h.term = d.term
             |  GROUP BY 1),
             |cand AS (SELECT doc_id, bm25 FROM scored
             |  ORDER BY bm25 DESC, doc_id LIMIT 25),
             |g AS (SELECT doc_id, doc_id % 4 AS rel,
             |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk,
             |    row_number() OVER (ORDER BY (doc_id % 4) DESC, doc_id) AS irk
             |  FROM cand),
             |t AS (SELECT *,
             |    CAST(round((pow(2, rel) - 1) / log2(rk + 1) * 1000000)
             |      AS BIGINT) AS dterm,
             |    CAST(round((pow(2, rel) - 1) / log2(irk + 1) * 1000000)
             |      AS BIGINT) AS iterm FROM g)
             |SELECT k::BIGINT AS k,
             |  sum(CASE WHEN rk <= k THEN dterm ELSE 0 END)::BIGINT AS dcg_micro,
             |  sum(CASE WHEN irk <= k THEN iterm ELSE 0 END)::BIGINT AS idcg_micro,
             |  round(sum(CASE WHEN rk <= k THEN dterm ELSE 0 END)::DOUBLE /
             |    sum(CASE WHEN irk <= k THEN iterm ELSE 0 END), 6) AS ndcg
             |FROM t, (SELECT unnest([5, 10, 25]) AS k) ks
             |GROUP BY k ORDER BY k""".stripMargin),
    ),
  )
}
