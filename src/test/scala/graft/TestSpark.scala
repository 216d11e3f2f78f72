package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The Spark jobs started while `body` ran, one entry per job: the SQL
    * execution id the job ran under ("null" outside SQL). AQE may split one
    * query into a map-stage job and a result job, so `.distinct.size`
    * counts queries and `.size` counts jobs.
    */
  def jobsDuring(body: => Any): Seq[String] = {
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        ids.add(String.valueOf(js.properties.getProperty("spark.sql.execution.id")))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // the listener bus is async (and private); poll until the count settles
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 15000) {
        Thread.sleep(200); waited += 200
        val cur = ids.size
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    ids.toArray(Array.empty[String]).toSeq
  }
}
