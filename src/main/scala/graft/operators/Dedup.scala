package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** End-to-end deduplication operators for document corpora — the user-facing
  * API over the primitives in `TextFunctions` (north-star op family,
  * BASELINE.json). Each returns the deduplicated DataFrame; the keeper per
  * duplicate group is the row with the smallest `idCol`.
  */
object Dedup {

  /** Exact dedup by content digest: one shuffle on the 128-bit hash. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1).drop("_rk")
  }

  /** Connected components over an undirected edge list (any two columns,
    * cast to long) by iterative min-label propagation: each round every
    * vertex adopts the smallest label in its neighborhood — one shuffle per
    * round, early exit when no label changes. Rounds needed = graph
    * diameter; near-duplicate graphs are chains/cliques of a handful of
    * docs, so this converges in 2-3 rounds at any corpus size (the
    * general-diameter alternative is alternating small-star/large-star,
    * same per-round shuffle shape).
    *
    * Returns (vertex, component) with component = min vertex id reachable.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val e = edges.select(col(edges.columns(0)).cast("long").as("src"),
      col(edges.columns(1)).cast("long").as("dst"))
    // hash-partition the (cached) edge list on the join key once: the
    // per-round join then reuses the cached partitioning and only the
    // small label side shuffles each iteration
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().repartition(col("dst")).persist()
    // eager localCheckpoint instead of persist: iterative lineage would
    // otherwise grow by one join+agg per round, inflating planning time
    // linearly in rounds (the classic iterative-algorithm trap)
    var labels = und.select(col("src").as("v")).distinct()
      .withColumn("component", col("v")).localCheckpoint(true)
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val msgs = und.join(labels, und("dst") === labels("v"))
        .select(und("src").as("v"), col("component"),
          lit(null).cast("long").as("_old"))
      // carry each vertex's previous label through the union as _old
      // (unique per v, so min() recovers it; message rows contribute null)
      // → the did-anything-change test is a flag on the aggregated row,
      // counted off the checkpointed partitions — no extra join+shuffle
      // per round
      val agged = labels
        .select(col("v"), col("component"), col("component").as("_old"))
        .union(msgs)
        .groupBy("v").agg(min("component").as("component"), min("_old").as("_old"))
        .withColumn("_chg", col("component") < col("_old"))
        .select("v", "component", "_chg")
        .localCheckpoint(true)
      changed = agged.filter(col("_chg")).count()
      labels = agged.select("v", "component")
      it += 1
    }
    und.unpersist()
    labels
  }

  /** LSH band-signature rows `(_id, _b, _h)` — the signature path of
    * [[nearDuplicatePairs]] factored out (same shingles → minhash → band
    * md5 family), shared with the DML-maintained minhash index
    * (`GraftTable.createMinhashIndex`) so index candidates and the batch
    * operator's candidates are IDENTICAL by construction. Map-only: at
    * 100 TB each new batch computes signatures for its own rows only.
    */
  def bandSignatures(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, bands: Int, shingleSize: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val perBand = numHashes / bands
    val withSig = df
      .filter(length(col(textCol)) >= shingleSize)
      .withColumn("_sh",
        array_sort(TextFunctions.shingles(col(textCol), shingleSize)))
      .withColumn("_mh", graft.plans.TextNative.minhashSignature(
        df.sparkSession, col("_sh"), numHashes = numHashes))
    withSig.withColumn("_bands", array((0 until bands).map { b =>
        TextFunctions.bandHash((0 until perBand).map(r =>
          element_at(col("_mh"), b * perBand + r + 1)))
      }: _*))
      .select(col(idCol).cast("long").as("_id"),
        posexplode(col("_bands")).as(Seq("_b", "_h")))
  }

  /** Exact-Jaccard verification of candidate `pairs` (`_ida`, `_idb`)
    * against the CURRENT text of two document frames (same frame twice for
    * within-corpus pairs): joins each side to its sorted shingle set and
    * keeps pairs with Jaccard ≥ `threshold`, appending the score. Shape:
    * two id-keyed joins + the native merge-scan intersect — candidates
    * only, never all-pairs.
    */
  def verifyJaccardBetween(pairs: DataFrame,
      docsA: DataFrame, textA: String, idA: String,
      docsB: DataFrame, textB: String, idB: String,
      shingleSize: Int, threshold: Double): DataFrame = {
    // materialize the candidate list ONCE (it feeds three subplans below);
    // candidate sets are bounded by the band join, never corpus-sized
    val p = pairs.localCheckpoint(true)
    // shingle ONLY candidate rows: the broadcast semi-join filters each
    // side down to ids that appear in a pair BEFORE the (expensive)
    // shingle projection — verifying k candidates against a 100 TB corpus
    // must not re-shingle the corpus (that is the cost the minhash index
    // exists to amortize)
    def sh(d: DataFrame, t: String, i: String, side: String, idCol: String) = d
      .filter(length(col(t)) >= shingleSize)
      .select(col(i).cast("long").as(s"_v$side"), col(t).as(s"_t$side"))
      .join(broadcast(p.select(col(idCol).as(s"_v$side")).distinct()),
        Seq(s"_v$side"), "left_semi")
      .select(col(s"_v$side"),
        array_sort(TextFunctions.shingles(col(s"_t$side"), shingleSize))
          .as(s"_sh$side"))
    val spark = pairs.sparkSession
    p
      .join(sh(docsA, textA, idA, "a", "_ida"), col("_ida") === col("_va"))
      .join(sh(docsB, textB, idB, "b", "_idb"), col("_idb") === col("_vb"))
      .withColumn("_ni", graft.plans.NativeVector.sortedIntersectCount(
        spark, col("_sha"), col("_shb")))
      .withColumn("jaccard", col("_ni").cast("double") /
        (size(col("_sha")) + size(col("_shb")) - col("_ni")))
      .filter(col("jaccard") >= threshold)
      .select(col("_ida"), col("_idb"), col("jaccard"))
  }

  /** LSH candidate pairs verified by exact Jaccard: (_ida, _idb) with
    * _ida < _idb — the edge list of the near-duplicate graph.
    */
  def nearDuplicatePairs(df: DataFrame, textCol: String, idCol: String,
      jaccardThreshold: Double = 0.9, numHashes: Int = 8, bands: Int = 2,
      shingleSize: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val perBand = numHashes / bands
    val withShingles = df
      .filter(length(col(textCol)) >= shingleSize)
      // sorted once per row: the exact-Jaccard verify below uses the native
      // merge-scan intersect (no per-pair hash set)
      .withColumn("_sh",
        array_sort(TextFunctions.shingles(col(textCol), shingleSize)))
    val withSig = withShingles.withColumn("_mh",
      graft.plans.TextNative.minhashSignature(df.sparkSession, col("_sh"),
        numHashes = numHashes))
    val sig = withSig.withColumn("_bands", array((0 until bands).map { b =>
      TextFunctions.bandHash((0 until perBand).map(r =>
        element_at(col("_mh"), b * perBand + r + 1)))
    }: _*))
    val bandsDf = sig.select(col(idCol).as("_id"), col("_sh"),
      posexplode(col("_bands")).as(Seq("_b", "_h")))
    // alias self-join with renames AFTER the join: both sides shuffle the
    // identical subplan, so ReuseExchange computes signatures once at scale
    bandsDf.as("a").join(bandsDf.as("b"),
        col("a._b") === col("b._b") && col("a._h") === col("b._h"))
      .filter(col("a._id") < col("b._id"))
      // |A∪B| = |A|+|B|−|A∩B| on distinct shingle sets (skips union build)
      .withColumn("_ni", graft.plans.NativeVector.sortedIntersectCount(
        df.sparkSession, col("a._sh"), col("b._sh")))
      .filter(col("_ni").cast("double") /
        (size(col("a._sh")) + size(col("b._sh")) - col("_ni")) >= jaccardThreshold)
      .drop("_ni")
      .select(col("a._id").as("_ida"), col("b._id").as("_idb"))
      .distinct()
  }

  /** Near-dup removal via MinHash+LSH banding: map-side signatures, an
    * equi-join on (band, hash) for candidates (never O(n²)), exact Jaccard
    * on candidates only, then CONNECTED COMPONENTS over the verified pairs
    * so transitive chains (A~B, B~C, A≁C) collapse to one keeper — the
    * component's smallest id — instead of the one-level greedy that left
    * C's fate dependent on visit order.
    */
  def nearDuplicates(df: DataFrame, textCol: String, idCol: String,
      jaccardThreshold: Double = 0.9, numHashes: Int = 8, bands: Int = 2,
      shingleSize: Int = 3): DataFrame = {
    val pairs = nearDuplicatePairs(df, textCol, idCol, jaccardThreshold,
      numHashes, bands, shingleSize)
    val dupIds = connectedComponents(pairs)
      .filter(col("v") =!= col("component")) // keeper = component min id
      .select(col("v").as("_dup"))
    df.join(dupIds, df(idCol) === dupIds("_dup"), "left_anti")
  }

  /** SimHash bucket dedup: rows sharing a 16-bit simhash collapse to the
    * smallest id — a coarse, single-shuffle near-dup pass.
    */
  def simhashBuckets(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(graft.plans.TextNative.simhash16(df.sparkSession,
      TextFunctions.tokens(col(textCol)))).orderBy(col(idCol))
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1).drop("_rk")
  }

  /** Embedding-space near-duplicate pairs via a cluster-pruned similarity
    * self-join — the SemDeDup clustering shape (Abbas et al. 2023,
    * arXiv:2303.09540) made EXACT with the triangle-inequality bound
    * `ExactAnn` uses for search. K-means over unit vectors partitions the
    * corpus; for clusters i, j with centroid distance d_ij and member radii
    * r_i, r_j, any members x∈i, y∈j satisfy d(x,y) ≥ d_ij − r_i − r_j, so
    * on unit vectors cos(x,y) ≤ 1 − max(0, d_ij−r_i−r_j)²/2. Cluster pairs
    * whose bound falls below `tau` cannot contain a qualifying pair and are
    * never compared.
    *
    * Scale shape: the candidate cluster-pair list is a k×k driver
    * computation broadcast into an equi-join on cluster id — each row
    * shuffles ONCE on its cluster, comparisons happen only within candidate
    * cluster pairs, never all-pairs. Exactness is unconditional: a poor
    * clustering degrades pruning (worst case all k² pairs survive, the
    * brute-force join), never the answer. `exact=false` drops the bound
    * and compares within single clusters only — SemDeDup proper, the
    * cheaper approximation that misses cross-cluster pairs.
    *
    * Returns (vec_a, vec_b, cos_sim) with vec_a < vec_b and
    * round(cos_sim, 6) ≥ tau.
    */
  def semanticNearDupPairs(df: DataFrame, vecCol: String, idCol: String,
      tau: Double, k: Int = 16, maxIter: Int = 10,
      exact: Boolean = true, saltFactor: Int = 8): DataFrame = {
    require(saltFactor >= 1, s"bad saltFactor $saltFactor")
    // the pair kernel works on long ids; only integral ids survive that
    val idType = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"semanticNearDupPairs needs an integral id column, got $idCol: ${idType.sql}")
    val spark = df.sparkSession
    val ivf = ExactAnn.build(df, vecCol, idCol, k, maxIter)
    val assigned = KMeans.assign(
        df.withColumn("_nv", ExactAnn.normalized(col(vecCol))), "_nv", ivf.model)
      .select(col(idCol).as("_ida"), col("_nv").as("_ua"),
        col("cluster").as("_ca"))
    val cand = candidateClusterPairs(ivf, tau, exact)
    import spark.implicits._
    // The pairwise comparison runs as a grouped primitive-array kernel, not
    // a join (r16, guide §4): the former salted SMJ evaluated its (codegen)
    // dot condition once per buffered ROW PAIR, paying row-decode + join
    // machinery ~|i|×|j| times per cluster pair — measured 3.4 s for ~2M
    // 64-dim pairs at sf0.1 where a tight double[] loop does the identical
    // flops in a fraction of that (the documented imperative-kernel
    // exception, same rationale as KMeans.fitRdd). Discipline unchanged:
    //  * one orientation per cluster pair (i ≤ j): a-side rows come from i,
    //    b-side rows from j, so an unordered row pair meets exactly once
    //    (within a cluster the id inequality dedups);
    //  * SALT: each b row takes ONE deterministic salt, a-side rows
    //    replicate to every salt — a fat cluster pair spreads over
    //    `saltFactor` tasks instead of one straggler, and shuffle volume
    //    grows ×saltFactor on the a-side only;
    //  * the threshold stays conservative by 1e-6 against the output
    //    rounding, and survivors re-fetch their RAW vectors to pay the
    //    oracle-exact cosine formula — exactness never rests on
    //    normalize-then-dot rounding (a reordered kernel sum moves the dot
    //    by ulps, orders of magnitude inside the cushion).
    val thr = tau - 1e-6
    val candByCluster: Map[Int, Seq[Int]] =
      cand.groupBy(_._1).map { case (i, ps) => i -> ps.map(_._2) }
    val pairIdx: Map[(Int, Int), Int] = cand.zipWithIndex.toMap
    val pairInv: Map[Int, (Int, Int)] = pairIdx.map(_.swap)
    val sf = saltFactor
    val bcCand = spark.sparkContext.broadcast((candByCluster, pairIdx))
    val bcInv = spark.sparkContext.broadcast(pairInv)
    val emitted = assigned
      .where(col("_ida").isNotNull && col("_ua").isNotNull &&
        col("_ca").isNotNull)
      .select(col("_ida").cast("long").as("_id"), col("_ua"), col("_ca"))
      .as[(Long, Seq[Double], Int)]
      .flatMap { case (id, v, c) =>
        val (byC, pIdx) = bcCand.value
        val vec = v.toArray
        val salt = ((id % sf) + sf).toInt % sf
        val bSide = pIdx.iterator.collect {
          case ((_, j), p) if j == c => (p, salt, false, id, vec)
        }.toSeq
        val aSide = byC.getOrElse(c, Seq.empty).flatMap { j =>
          val p = pIdx((c, j))
          (0 until sf).map(sl => (p, sl, true, id, vec))
        }
        bSide ++ aSide
      }
    val survivors = emitted.groupByKey(r => (r._1, r._2)).flatMapGroups {
      (pk: (Int, Int),
       it: Iterator[(Int, Int, Boolean, Long, Array[Double])]) =>
        val (ci, cj) = bcInv.value(pk._1)
        val within = ci == cj
        val aIds = scala.collection.mutable.ArrayBuffer[Long]()
        val aVs = scala.collection.mutable.ArrayBuffer[Array[Double]]()
        val bIds = scala.collection.mutable.ArrayBuffer[Long]()
        val bVs = scala.collection.mutable.ArrayBuffer[Array[Double]]()
        it.foreach { case (_, _, isA, id, vec) =>
          if (isA) { aIds += id; aVs += vec } else { bIds += id; bVs += vec }
        }
        val res = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        var ai = 0
        while (ai < aIds.length) {
          val av = aVs(ai); val aid = aIds(ai)
          var bi = 0
          while (bi < bIds.length) {
            val bid = bIds(bi)
            if (!within || aid < bid) {
              val bv = bVs(bi)
              var d = 0.0
              var x = 0
              val n = math.min(av.length, bv.length)
              while (x < n) { d += av(x) * bv(x); x += 1 }
              if (d >= thr)
                res += ((math.min(aid, bid), math.max(aid, bid)))
            }
            bi += 1
          }
          ai += 1
        }
        res.iterator
    }.toDF("vec_a", "vec_b")
      // long was the kernel's working type; give callers back the id type
      .select(col("vec_a").cast(idType), col("vec_b").cast(idType))
    val raw = df.select(col(idCol).as("_rid"),
      col(vecCol).cast("array<double>").as("_rv"))
    survivors
      .join(raw, col("vec_a") === col("_rid"))
      .withColumnRenamed("_rv", "_va").drop("_rid")
      .join(raw, col("vec_b") === col("_rid"))
      .withColumnRenamed("_rv", "_vb").drop("_rid")
      .withColumn("cos_sim", round(graft.plans.NativeVector.cosine(spark,
        col("_va"), col("_vb")), 6))
      .filter(col("cos_sim") >= tau)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
  }

  /** Candidate cluster pairs for `semanticNearDupPairs` (driver-side k×k,
    * one orientation per unordered pair, i <= j). A pair survives iff the
    * triangle-inequality ceiling 1 − max(0, d_ij−r_i−r_j)²/2 on member
    * cosine reaches `tau`.
    */
  private[operators] def candidateClusterPairs(ivf: ExactAnn.Ivf, tau: Double,
      exact: Boolean): Seq[(Int, Int)] = {
    val cents = ivf.model.centroids.map(_.toArray)
    def dist(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      math.sqrt(s)
    }
    val idxs = cents.indices
    idxs.flatMap { i =>
      idxs.filter(_ >= i).filter { j =>
        if (!exact) i == j // SemDeDup proper: within-cluster only
        else {
          val gap = math.max(0.0,
            dist(cents(i), cents(j)) - ivf.radii.getOrElse(i, 0.0) -
              ivf.radii.getOrElse(j, 0.0))
          // rounding in the final filter adds ≤5e-7; 1e-6 covers it + fp
          1.0 - gap * gap / 2.0 >= tau - 1e-6
        }
      }.map(j => (i, j))
    }
  }

  /** Semantic dedup: drop every row that is embedding-near-duplicate
    * (cos ≥ tau) of a lower-id row, with transitive chains collapsed to the
    * component's smallest id via connected components — the SemDeDup
    * keep-one policy with the same transitive-closure discipline as
    * `nearDuplicates`.
    */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
      tau: Double, k: Int = 16, exact: Boolean = true): DataFrame = {
    val pairs = semanticNearDupPairs(df, vecCol, idCol, tau, k, exact = exact)
      .select(col("vec_a"), col("vec_b"))
    val dupIds = connectedComponents(pairs)
      .filter(col("v") =!= col("component"))
      .select(col("v").as("_dup"))
    df.join(dupIds, df(idCol) === dupIds("_dup"), "left_anti")
  }

  /** Benchmark decontamination (GPT-3 appendix C / Llama 2 §A.6): per
    * training document, the number of distinct word `n`-grams (lowercased,
    * whitespace-tokenized) that also appear in the benchmark corpus.
    * Filter on `n_contaminated > 0` to drop tainted documents.
    *
    * Scale shape: both sides explode to (id, gram) — map-only — and meet in
    * an equi-join on the gram. Benchmark suites are MBs against a 100 TB
    * training corpus, so the distinct benchmark-gram set is broadcast: the
    * whole check is one broadcast-hash semi-pass plus the per-doc distinct
    * count's shuffle, never a corpus-by-corpus join.
    */
  def decontaminate(train: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, n: Int = 13): DataFrame = {
    def grams(df: DataFrame) = df.select(col(idCol).as("_id"),
      explode(TextFunctions.wordNgrams(
        TextFunctions.tokens(lower(col(textCol))), n)).as("_gram"))
    val benchGrams = grams(bench).select("_gram").distinct()
    grams(train)
      .join(broadcast(benchGrams), "_gram")
      .groupBy(col("_id").as(idCol))
      .agg(count_distinct(col("_gram")).as("n_contaminated"))
  }
}
