package graft.functions

import graft.TestSpark
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VectorFunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vec(i: Long, dim: Int = 8): Array[Double] =
    Array.tabulate(dim) { d =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"vf:$i:$d".getBytes("UTF-8"))
      java.nio.ByteBuffer.wrap(h).getInt() / Int.MaxValue.toDouble
    }

  test("topKPerQuery equals the naive global window") {
    val corpus = (10L until 400L).map(i => i -> vec(i)).toDF("cid", "ce")
    val queries = (0L until 5L).map(i => i -> vec(i)).toDF("qid", "qe")
    val got = VectorFunctions
      .topKPerQuery(corpus, "cid", "ce", queries, "qid", "qe", 3)
      .orderBy(col("qid"), col("_rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    // naive reference: the flat per-query window
    val score = VectorFunctions.cosineSimilarity(col("ce"), col("qe"))
    val w = Window.partitionBy(col("qid")).orderBy(score.desc, col("cid"))
    val naive = corpus.crossJoin(broadcast(queries))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= 3)
      .select(col("qid"), col("cid"), col("_rk"))
      .orderBy(col("qid"), col("_rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == naive)
  }

  test("topKPerQuery limits each query's rows map-side, below the first exchange") {
    val corpus = (10L until 200L).map(i => i -> vec(i)).toDF("cid", "ce")
    val queries = (0L until 3L).map(i => i -> vec(i)).toDF("qid", "qe")
    val q = VectorFunctions.topKPerQuery(corpus, "cid", "ce", queries, "qid", "qe", 3)
    val lines = q.queryExecution.executedPlan.toString.linesIterator.toSeq
    val plan = lines.mkString("\n")
    // each map task keeps its own top 3 per query before the shuffle on qid,
    // so no task sorts the whole corpus
    val exchange = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    val partial = lines.indexWhere(l => l.contains("WindowGroupLimit") && l.contains("Partial"))
    val fin = lines.indexWhere(l => l.contains("WindowGroupLimit") && l.contains("Final"))
    assert(exchange >= 0 && fin >= 0 && fin < exchange && partial > exchange,
      s"expected WindowGroupLimit Final above and Partial below the first exchange:\n$plan")
  }
}
