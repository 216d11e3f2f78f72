package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

object TestSpark {
  /** Pinned at 4 cores so results do not depend on the host's
    * SPARK_GRAFT_CPUS. */
  lazy val spark: SparkSession = Sessions.local(4)

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
