package graft.tools

/** Full-registry sweep under REAL multi-executor deployment
  * (`local-cluster[4,8,8192]` — four separate executor JVMs): flushes
  * any JVM-singleton / broadcast / serialization assumption the
  * single-JVM `local[32]` bench cannot see (executor-local caches,
  * lazily-initialized statics, closure capture). Run via the
  * FileCacheClusterSpec subprocess recipe:
  *
  * {{{
  * SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *   java <add-opens...> -cp <classes> graft.tools.ClusterSweepMain \
  *   /root/testdata/sf0.01 /root/repo/BENCH_CLUSTER.json [qNN...]
  * }}}
  *
  * Per query: row count + wall seconds + OK/FAIL, one JSON result file.
  * Row counts are NOT compared here (the DuckDB oracle does that at
  * sf0.01 in Verify); the sweep's job is "does every operator run and
  * return rows under multi-JVM execution".
  */
object ClusterSweepMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outJson = args(1)
    val only = args.drop(2).toSet
    val spark = graft.Sessions.cluster(4, 8, 8192)
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, Double)]
    graft.SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          val n = fn(spark, sfDir).count()
          val secs = (System.nanoTime() - t0) / 1e9
          val status = if (n > 0) "ok" else "empty"
          results += ((name, status, n, secs))
          println(f"SWEEP $name $status rows=$n%d ${secs}%.2fs")
        } catch {
          case e: Throwable =>
            val secs = (System.nanoTime() - t0) / 1e9
            results += ((name, "fail", -1L, secs))
            println(s"SWEEP $name FAIL ${e.getClass.getSimpleName}: " +
              s"${Option(e.getMessage).getOrElse("").take(300)}")
        }
      }
    val nFail = results.count(_._2 == "fail")
    val nEmpty = results.count(_._2 == "empty")
    val json = results.map { case (n, st, rows, s) =>
      s"""{"query":"$n","status":"$st","rows":$rows,"sec":${f"$s%.3f"}}"""
    }.mkString(
      s"""{"master":"local-cluster[4,8,8192]","sf_dir":"$sfDir",""" +
        s""""n":${results.length},"fail":$nFail,"empty":$nEmpty,"queries":[""",
      ",", "]}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(s"SWEEP_DONE n=${results.length} fail=$nFail empty=$nEmpty")
    spark.stop()
    if (nFail > 0) sys.exit(1)
  }
}
