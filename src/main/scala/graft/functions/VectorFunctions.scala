package graft.functions

import graft.operators.TopN
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector/similarity column builders over `array<float|double>` embedding
  * columns (reference: `/root/reference/pixeltable/index/embedding_index.py`
  * metrics COSINE/IP/L2, `exprs/similarity_expr.py:28-100`).
  *
  * Pure higher-order-function compositions (zip_with/aggregate) — codegen'd,
  * no UDF serialization. `aggregate` folds left-to-right, so double results
  * are bit-deterministic for a given array order.
  */
object VectorFunctions {

  private def d(c: Column): Column = c.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(d(a), d(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosineSimilarity(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  def l2Distance(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(d(a), d(b), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x))

  def innerProduct(a: Column, b: Column): Column = dot(a, b)

  /** Literal vector column (for query points). */
  def vectorLit(v: Seq[Double]): Column = array(v.map(lit): _*)

  /** Brute-force top-k by similarity: Catalyst plans orderBy+limit as
    * TakeOrderedAndProject (per-partition heap + merge, no global sort) —
    * the correct baseline up to ~10M rows/partition-scan.
    */
  def topK(df: DataFrame, embedding: Column, query: Seq[Double], k: Int,
      metric: String = "cosine"): DataFrame = {
    val score = metric match {
      case "cosine" => cosineSimilarity(embedding, vectorLit(query))
      case "ip"     => innerProduct(embedding, vectorLit(query))
      case "l2"     => -l2Distance(embedding, vectorLit(query))
      case m        => throw new IllegalArgumentException(s"unknown metric: $m")
    }
    df.withColumn("_score", score).orderBy(col("_score").desc).limit(k)
  }

  /** IVF-style pruned search: restrict the scan to the query's cluster(s)
    * before ranking. With the table partitioned/bucketed by the cluster id,
    * this becomes a partition-pruned scan — the 100 TB path.
    */
  def topKClustered(df: DataFrame, clusterCol: Column, probeClusters: Seq[Int],
      embedding: Column, query: Seq[Double], k: Int): DataFrame =
    topK(df.filter(clusterCol.isin(probeClusters: _*)), embedding, query, k)

  /** Per-row query template (reference `@pxt.query` / `retrieval_udf`,
    * `func/query_template_function.py:153-193` — SURVEY §7.4 hard part 4):
    * "for every row of `queries`, run a top-k similarity lookup against
    * `corpus`" rewritten as ONE broadcast join + per-query window rank —
    * no per-row subquery execution, one distributed plan.
    *
    * `queries` must be broadcast-sized (it is the parameter set, not data).
    *
    * The rank is `TopN.perGroup` without cutoffs: Catalyst keeps each map
    * task's top k per query (`WindowGroupLimit` `Partial`) before the
    * exchange on `queryId`, so no task sorts the whole corpus. Output:
    * (queryId, corpusId, `_score`, `_rk`).
    */
  def topKPerQuery(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries)).select(col(queryId), col(corpusId),
      cosineSimilarity(col(corpusVec), col(queryVec)).as("_score"))
    TopN.perGroup(scored, Seq(col(queryId)), Seq(col("_score").desc, col(corpusId)), k)
      .withColumnRenamed(TopN.RankCol, "_rk")
  }
}
