package graft.operators

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TopNSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Groups 0-3 hold ~60 rows each with keys in [0, 300) (many ties), group
    * 1 also three null keys, group 5 two rows and the null group one row.
    * Keys are tied, so results compare as (group, rank, key): which tied
    * row takes a rank is arbitrary, its key is not.
    */
  private def corpus(extra: Seq[(Option[Int], Option[Long])] = Nil): DataFrame = {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 240).map(i => (Option(i % 4), Option(rnd.nextInt(300).toLong))) ++
      Seq.fill(3)((Option(1), Option.empty[Long])) ++
      Seq((Option(5), Option(3L)), (Option(5), Option(50L)), (None, Option(7L))) ++
      extra
    rows.toDF("g", "k")
  }

  private def ranked(df: DataFrame, rankCol: String): Seq[(Option[Int], Int, Option[Long])] =
    df.select(col("g"), col(rankCol), col("k")).as[(Option[Int], Int, Option[Long])]
      .collect().toSeq.sortBy(r => (r._1.getOrElse(-1), r._2))

  private def flat(df: DataFrame, n: Int) = ranked(
    df.withColumn("rn", row_number().over(Window.partitionBy(col("g")).orderBy(col("k"))))
      .filter(col("rn") <= n), "rn")

  private def topN(df: DataFrame, n: Int, cutoffs: Seq[Any]) = ranked(
    TopN.perGroup(df, Seq(col("g")), Seq(col("k")), n, cutoffs), TopN.RankCol)

  // 10 holds too few rows per group for n = 5, 100 is the smallest that fits
  private val cutoffs = Seq(10L, 100L, 1000L)

  test("perGroup equals a flat row_number window, with and without cutoffs") {
    for (df <- Seq(corpus(), corpus(Seq.tabulate(4)(i => (Option(9), Option(5000L + i % 2)))));
         n <- Seq(1, 5, 70); cs <- Seq(Nil, cutoffs)) {
      val want = flat(df, n)
      assert(want.exists(_._3.isEmpty), "null keys must rank first")
      assert(topN(df, n, cs) == want, s"n=$n cutoffs=$cs")
    }
  }

  test("the smallest qualifying cutoff bounds the ranked input") {
    def bounds(df: DataFrame, n: Int) =
      TopN.perGroup(df, Seq(col("g")), Seq(col("k")), n, cutoffs)
        .queryExecution.analyzed.collect { case f: Filter => f.condition.sql }
        .flatMap(c => "\\(k <= (\\d+)L\\)".r.findFirstMatchIn(c).map(_.group(1).toLong))
    assert(bounds(corpus(), 5) == Seq(100L))
    assert(bounds(corpus(), 70) == Seq(1000L))
    // a group with no rows under any cutoff: ranked unfiltered
    assert(bounds(corpus(Seq((Option(9), Option(5000L)))), 5).isEmpty)
  }

  test("the cutoff path runs exactly one probe query; without cutoffs none") {
    val df = corpus().cache()
    df.count()
    try {
      assert(probeQueries(TopN.perGroup(df, Seq(col("g")), Seq(col("k")), 5, cutoffs)) == 1)
      assert(probeQueries(TopN.perGroup(df, Seq(col("g")), Seq(col("k")), 5)) == 0)
    } finally df.unpersist()
  }

  test("cutoffs need a plain ascending leading key") {
    val e = intercept[IllegalArgumentException](
      TopN.perGroup(corpus(), Seq(col("g")), Seq(col("k").desc), 5, cutoffs))
    assert(e.getMessage.contains("plain ascending leading key"), e.getMessage)
  }

  /** SQL executions that ran jobs while `body` was built (AQE may split one
    * query into a map-stage job and a result job, so jobs are grouped by
    * their execution id).
    */
  private def probeQueries(body: => DataFrame): Int = {
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        ids.add(String.valueOf(js.properties.getProperty("spark.sql.execution.id")))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // the listener bus is async (and private); poll until the set settles
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 15000) {
        Thread.sleep(200); waited += 200
        val cur = ids.size
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    ids.size
  }
}
