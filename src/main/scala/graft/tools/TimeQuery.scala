package graft.tools

/** Time individual registry queries: `runMain graft.tools.TimeQuery
  * <sfDir> <reps> <name...>`. Same session config + noop-sink protocol as
  * graft.Bench, but scoped to named queries — for bisecting one query's
  * regression without a 10-minute full-suite run.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val names = args.drop(2).toSeq
    val spark = graft.Sessions.local()
    val qs = graft.SparkEntry.queries
    names.foreach { n =>
      val fn = qs(n)
      val times = (0 until (reps + 1)).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.drop(1) // first rep is warmup
      println(f"[time] $n min=${times.min}%.3f all=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
