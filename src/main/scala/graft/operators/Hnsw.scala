package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sharded HNSW approximate-nearest-neighbor index (reference: EmbeddingIndex
  * with an ANN backend, `pixeltable/catalog/...embedding index`; algorithm:
  * Malkov & Yashunin, "Efficient and robust approximate nearest neighbor
  * search using Hierarchical Navigable Small World graphs", TPAMI 2018).
  *
  * Scale design — the Lucene/Milvus segment shape: one in-memory HNSW graph
  * per PARTITION, built inside `mapPartitions` (no driver materialization,
  * no cross-partition traffic), serialized to a bytes column and stored as
  * a parquet index table. A query searches every shard's graph (embarrass-
  * ingly parallel, ef log n per shard) and takes a global top-k over the
  * union of shard candidates (TakeOrderedAndProject). Graph build is
  * deterministic: node levels derive from md5(id), not a RNG, so the index
  * — and therefore every query — is reproducible run-to-run.
  *
  * Search is approximate (recall tuned by M/efConstruction/ef); the EXACT
  * path with pruning is `ExactAnn`. Both rank by cosine via inner product
  * on unit vectors.
  */
object Hnsw {

  /** One shard's graph: unit vectors + layered adjacency. */
  final class Graph(
      val ids: Array[Long],
      val vecs: Array[Array[Double]],
      val levels: Array[Int],
      // links(level)(node) = neighbor node indices (node-local to shard)
      val links: Array[Array[Array[Int]]],
      val entry: Int) {

    def size: Int = ids.length

    private def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }

    /** Greedy descent from the top layer, beam of `ef` at layer 0; returns
      * up to k (id, cosine) pairs, best first.
      */
    def search(query: Array[Double], k: Int, ef: Int): Seq[(Long, Double)] = {
      if (size == 0) return Nil
      val q = Hnsw.unit(query)
      if (ef >= size) {
        // ef covers the whole shard: scan it outright — cheaper than a beam
        // that would visit every node anyway, and STRUCTURALLY exact (graph
        // connectivity can't hide nodes), which is what makes the re-rank
        // path below oracle-checkable at any corpus size.
        return ids.indices
          .map(i => (ids(i), dot(q, vecs(i))))
          .sortBy { case (id, s) => (-s, id) }
          .take(k)
      }
      var cur = entry
      var curSim = dot(q, vecs(cur))
      var level = levels(entry)
      while (level > 0) { // greedy single-path above layer 0
        var improved = true
        while (improved) {
          improved = false
          val nbrs = links(level)(cur)
          var i = 0
          while (i < nbrs.length) {
            val s = dot(q, vecs(nbrs(i)))
            if (s > curSim) { curSim = s; cur = nbrs(i); improved = true }
            i += 1
          }
        }
        level -= 1
      }
      // layer-0 beam search with ef candidates
      val visited = new java.util.HashSet[Integer]()
      // candidates: max-sim first; results: min-sim first (bounded to ef)
      val cand = mutable.PriorityQueue.empty[(Double, Int)](Ordering.by(_._1))
      val res = mutable.PriorityQueue.empty[(Double, Int)](Ordering.by(-_._1))
      visited.add(cur)
      cand.enqueue((curSim, cur))
      res.enqueue((curSim, cur))
      while (cand.nonEmpty) {
        val (s, c) = cand.dequeue()
        if (res.size >= ef && s < res.head._1) cand.clear()
        else {
          val nbrs = links(0)(c)
          var i = 0
          while (i < nbrs.length) {
            val nb = nbrs(i)
            if (visited.add(nb)) {
              val ns = dot(q, vecs(nb))
              if (res.size < ef || ns > res.head._1) {
                cand.enqueue((ns, nb))
                res.enqueue((ns, nb))
                if (res.size > ef) res.dequeue()
              }
            }
            i += 1
          }
        }
      }
      val drained: Seq[(Double, Int)] = res.dequeueAll
      drained.reverse.take(k).map { case (s, n) => (ids(n), s) }
    }

    def serialize(): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(size)
      out.writeInt(if (size == 0) 0 else vecs(0).length)
      out.writeInt(entry)
      var i = 0
      while (i < size) {
        out.writeLong(ids(i)); out.writeInt(levels(i))
        val v = vecs(i)
        var j = 0
        while (j < v.length) { out.writeDouble(v(j)); j += 1 }
        i += 1
      }
      out.writeInt(links.length)
      links.foreach { layer =>
        var n = 0
        while (n < size) {
          val nbrs = if (layer(n) == null) Array.empty[Int] else layer(n)
          out.writeInt(nbrs.length)
          nbrs.foreach(out.writeInt)
          n += 1
        }
      }
      out.close()
      bos.toByteArray
    }
  }

  def deserialize(bytes: Array[Byte]): Graph = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val dim = in.readInt()
    val entry = in.readInt()
    val ids = new Array[Long](n)
    val levels = new Array[Int](n)
    val vecs = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      ids(i) = in.readLong(); levels(i) = in.readInt()
      val v = new Array[Double](dim)
      var j = 0
      while (j < dim) { v(j) = in.readDouble(); j += 1 }
      vecs(i) = v
      i += 1
    }
    val nLayers = in.readInt()
    val links = Array.fill(nLayers) {
      Array.tabulate(n) { _ =>
        val m = in.readInt()
        Array.fill(m)(in.readInt())
      }
    }
    new Graph(ids, vecs, levels, links, entry)
  }

  private[operators] def unit(v: Array[Double]): Array[Double] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** Deterministic level for an id: md5-derived uniform → geometric with
    * mL = 1/ln(M) (the paper's distribution, reproducible across builds).
    */
  private[operators] def levelFor(id: Long, m: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"hnsw:$id".getBytes("UTF-8"))
    val bits = java.nio.ByteBuffer.wrap(md).getLong() >>> 11
    val u = (bits + 1).toDouble / (1L << 53).toDouble // (0, 1]
    (-math.log(u) / math.log(m.toDouble)).toInt
  }

  /** Build one shard's graph from (id, vector) pairs. */
  def buildGraph(rows: Iterator[(Long, Array[Double])], m: Int = 16,
      efConstruction: Int = 100): Graph = {
    val idBuf = mutable.ArrayBuffer.empty[Long]
    val vecBuf = mutable.ArrayBuffer.empty[Array[Double]]
    rows.foreach { case (id, v) => idBuf += id; vecBuf += unit(v) }
    val n = idBuf.length
    val ids = idBuf.toArray
    val vecs = vecBuf.toArray
    val levels = Array.tabulate(n)(i => levelFor(ids(i), m))
    val maxLevel = if (n == 0) 0 else levels.max
    val mmax0 = 2 * m
    // adjacency as growable buffers during construction
    val adj = Array.fill(maxLevel + 1, n)(mutable.ArrayBuffer.empty[Int])

    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val len = math.min(a.length, b.length)
      while (i < len) { s += a(i) * b(i); i += 1 }
      s
    }

    var entry = -1
    var entryLevel = -1

    def searchLayer(q: Array[Double], ep: Int, ef: Int, level: Int): Seq[Int] = {
      val visited = new java.util.HashSet[Integer]()
      val cand = mutable.PriorityQueue.empty[(Double, Int)](Ordering.by(_._1))
      val res = mutable.PriorityQueue.empty[(Double, Int)](Ordering.by(-_._1))
      val eps = dot(q, vecs(ep))
      visited.add(ep); cand.enqueue((eps, ep)); res.enqueue((eps, ep))
      while (cand.nonEmpty) {
        val (s, c) = cand.dequeue()
        if (res.size >= ef && s < res.head._1) cand.clear()
        else adj(level)(c).foreach { nb =>
          if (visited.add(nb)) {
            val ns = dot(q, vecs(nb))
            if (res.size < ef || ns > res.head._1) {
              cand.enqueue((ns, nb)); res.enqueue((ns, nb))
              if (res.size > ef) res.dequeue()
            }
          }
        }
      }
      val drained: Seq[(Double, Int)] = res.dequeueAll
      drained.reverse.map(_._2) // best first
    }

    var i = 0
    while (i < n) {
      val lvl = levels(i)
      if (entry < 0) { entry = i; entryLevel = lvl }
      else {
        var ep = entry
        // greedy descent to lvl+1
        var l = entryLevel
        while (l > lvl) {
          var improved = true
          while (improved) {
            improved = false
            var best = dot(vecs(i), vecs(ep))
            adj(l)(ep).foreach { nb =>
              val s = dot(vecs(i), vecs(nb))
              if (s > best) { best = s; ep = nb; improved = true }
            }
          }
          l -= 1
        }
        // connect on layers min(lvl, entryLevel)..0
        var level = math.min(lvl, entryLevel)
        while (level >= 0) {
          val cands = searchLayer(vecs(i), ep, efConstruction, level)
          val cap = if (level == 0) mmax0 else m
          val selected = cands.take(m)
          selected.foreach { nb =>
            adj(level)(i) += nb
            adj(level)(nb) += i
            if (adj(level)(nb).length > cap) {
              // prune: keep the `cap` most similar neighbors
              val pruned = adj(level)(nb)
                .sortBy(x => -dot(vecs(nb), vecs(x))).take(cap)
              adj(level)(nb) = pruned
            }
          }
          ep = cands.headOption.getOrElse(ep)
          level -= 1
        }
        if (lvl > entryLevel) { entry = i; entryLevel = lvl }
      }
      i += 1
    }

    new Graph(ids, vecs, levels,
      adj.map(layer => layer.map(_.toArray)), math.max(entry, 0))
  }

  /** Per-shard summary for query-time pruning: unit centroid of the
    * shard's (unit) vectors plus the minimum member-to-centroid cosine
    * (the shard's angular radius). Both are one pass over the graph.
    */
  private def summarize(g: Graph): (Array[Double], Double) = {
    val dim = if (g.size == 0) 0 else g.vecs(0).length
    val c = new Array[Double](dim)
    g.vecs.foreach { v =>
      var i = 0
      while (i < dim) { c(i) += v(i); i += 1 }
    }
    val cu = unit(c)
    var minCos = 1.0
    g.vecs.foreach { v =>
      var s = 0.0
      var i = 0
      while (i < dim) { s += v(i) * cu(i); i += 1 }
      if (s < minCos) minCos = s
    }
    (cu, minCos)
  }

  /** Tightest possible cos(query, member) for a shard whose members lie
    * within angle arccos(minCos) of its centroid — the spherical-cap bound
    * cos(θ_qc − θ_r). A shard with bound < τ cannot contain a result
    * better than τ and is skipped without deserializing its graph.
    */
  private[operators] def capBound(cosQC: Double, minCos: Double): Double = {
    val cq = math.max(-1.0, math.min(1.0, cosQC))
    val cr = math.max(-1.0, math.min(1.0, minCos))
    if (cq >= cr) 1.0
    else cq * cr + math.sqrt((1 - cq * cq) * (1 - cr * cr))
  }

  /** Layout of the index table `shardRows` writes, one row per shard.
    * Reads declare it instead of inferring it from the files' footers.
    */
  val IndexSchema: StructType = StructType.fromDDL(
    "shard bigint, n bigint, centroid array<double>, min_cos double, graph binary")

  def readIndex(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.schema(IndexSchema).parquet(indexPath)

  /** One graph per partition of `shardsOf`'s output, written to `path`
    * in `mode`; returns the rows the written shards hold (an `Observation`
    * on the write, no extra job).
    */
  private def writeShards(df: DataFrame, vecCol: String, idCol: String,
      m: Int, efConstruction: Int, path: String, mode: String)(
      shardsOf: DataFrame => DataFrame): Long = {
    val spark = df.sparkSession
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation()
    shardsOf(df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>")))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val g = buildGraph(it, m, efConstruction)
        if (g.size == 0) Iterator.empty
        else {
          val (centroid, minCos) = summarize(g)
          // shard key = min member id: deterministic and unique across
          // appended segments (ids are unique table-wide)
          Iterator((g.ids.min, g.size.toLong, centroid, minCos, g.serialize()))
        }
      }
      .toDF("shard", "n", "centroid", "min_cos", "graph")
      .observe(obs, sum(col("n")).as("rows"))
      .write.mode(mode).parquet(path)
    Option(obs.get("rows")).collect { case n: java.lang.Long => n.longValue() }
      .getOrElse(0L)
  }

  /** Build the sharded index table: `shards` partitions, one serialized
    * graph per partition plus its pruning summary, written as parquet
    * (n, centroid, min_cos, graph). Bytes never touch the driver. Returns
    * the rows indexed.
    */
  def buildIndex(df: DataFrame, vecCol: String, idCol: String, path: String,
      shards: Int, m: Int = 16, efConstruction: Int = 100): Long =
    writeShards(df, vecCol, idCol, m, efConstruction, path, "overwrite")(
      _.repartition(shards, col(idCol))) // deterministic row→shard mapping

  /** Incremental maintenance: new rows become ONE new shard appended to the
    * index table (the Lucene segment model — inserts never rewrite existing
    * graphs; periodic `buildIndex` over the full table is the compaction).
    * The shard's graph is built over the rows in input order, in the job
    * that writes it (no shuffle). Returns the rows appended.
    */
  def appendToIndex(df: DataFrame, vecCol: String, idCol: String,
      path: String, m: Int = 16, efConstruction: Int = 100): Long =
    writeShards(df, vecCol, idCol, m, efConstruction, path, "append")(_.coalesce(1))

  /** Search: shard summaries are scored DISTRIBUTED — cos(query, centroid)
    * and the spherical-cap bound are Catalyst expressions over the summary
    * rows, never a driver-side array — and shards that cannot beat the
    * best shard's kth result are dropped by a filter on each index row's
    * own summary columns (no shard-id list, so 10⁵ shards plan the same as
    * 10, and no broadcast job). Only two bounded driver materializations
    * remain: the single best-shard id (one row) and its k seed scores. The
    * best shard id and the threshold τ ride as `OpValue`s, so the
    * generated code is the same for every query.
    */
  def search(spark: SparkSession, indexPath: String, query: Seq[Double],
      k: Int, ef: Int = 64, prune: Boolean = true): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions
    val q = query.toArray
    val qu = unit(q)
    val index = readIndex(spark, indexPath)
    val effEf = math.max(ef, k)

    val pruned =
      if (!prune) index
      else {
        // summaries only: one row per shard, never the graph bytes
        val sums = index.select(col("shard"), col("centroid"), col("min_cos"))
        val cosQC = VectorFunctions.dot(col("centroid"),
          VectorFunctions.vectorLit(qu.toSeq))
        // spherical-cap bound cos(θ_qc − θ_r) as a codegen'd expression
        val cq = greatest(lit(-1.0), least(lit(1.0), cosQC))
        val cr = greatest(lit(-1.0), least(lit(1.0), col("min_cos")))
        val bound = when(cq >= cr, lit(1.0))
          .otherwise(cq * cr + sqrt((lit(1.0) - cq * cq) * (lit(1.0) - cr * cr)))
        // probe the most-promising shard for a kth-best threshold τ:
        // TakeOrderedAndProject over summaries → exactly one driver row
        val best = sums.select(col("shard"))
          .orderBy(cosQC.desc, col("shard")).limit(1).as[Long].collect()
        if (best.isEmpty) index
        else {
          val seed = index
            .filter(col("shard") === graft.plans.OpValue(best.head))
            .select(col("graph")).as[Array[Byte]]
            .flatMap(b => deserialize(b).search(q, k, effEf))
            .collect().sortBy(-_._2)
          val tau = if (seed.length < k) -1.0 else seed(k - 1)._2
          // keep shards whose cap bound can still beat τ
          index.filter(bound >= graft.plans.OpValue(tau - 1e-12))
        }
      }

    pruned
      .select(col("graph")).as[Array[Byte]]
      .flatMap(bytes => deserialize(bytes).search(q, k, effEf))
      .toDF("vec_id", "cos_sim")
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Oracle-exact search: HNSW supplies a CANDIDATE set — each shard
    * returns its best `max(ef, shard size)` ids, so every shard's
    * contribution is STRUCTURALLY exhaustive (the `ef >= size` scan path
    * in `Graph.search` — exactness no longer rests on empirically-pinned
    * beam recall) — and the candidates are re-ranked EXACTLY against the
    * base table, scoring with the same dot/(‖a‖·‖b‖) double arithmetic a
    * brute-force scan uses. The union therefore provably contains the
    * global top-k at ANY corpus size, and the result equals brute force —
    * so a hash-checked SQL oracle (the brute-force query itself) applies
    * to an ANN operator. `Hnsw.search` remains the approximate fast path.
    * Shape: candidate ids (KBs) broadcast into a semi-join against the
    * corpus scan; the corpus itself is never collected.
    */
  def searchRerank(base: DataFrame, vecCol: String, idCol: String,
      indexPath: String, query: Seq[Double], k: Int, ef: Int = 256): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    import graft.functions.VectorFunctions
    val q = query.toArray
    val effEf = math.max(ef, k)
    val cands = readIndex(spark, indexPath)
      .select(col("graph")).as[Array[Byte]]
      .flatMap { b =>
        val g = deserialize(b)
        val shardEf = math.max(effEf, g.size)
        g.search(q, shardEf, shardEf).map(_._1)
      }
      .toDF("_cand_id")
    val score = VectorFunctions.cosineSimilarity(
      col(vecCol).cast("array<double>"), VectorFunctions.vectorLit(query))
    base.join(broadcast(cands), col(idCol) === col("_cand_id"), "left_semi")
      .withColumn("cos_sim", score)
      .select(col(idCol), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }
}
