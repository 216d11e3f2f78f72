package graft.tools

/** Multi-executor verification harness for `FileCache.clusterStats`: runs
  * a `local-cluster[2,2,…]` session (two REAL executor JVMs), populates a
  * cache on every executor through a barrier stage, then asserts the
  * stats sweep reports one row per executor. Launched as a subprocess by
  * FileCacheClusterSpec (a JVM holds at most one SparkContext, so this
  * cannot share the suite's local[*] session).
  *
  * Prints `STATS <executor_id> <num_files>` per row and `PROBE_OK` on
  * success.
  */
object ClusterStatsProbeMain {
  def main(args: Array[String]): Unit = {
    val cacheDir = args(0)
    val spark = graft.Sessions.cluster(2, 2, 1024)
    try {
      val slots = spark.sparkContext.defaultParallelism // 2 executors × 2 cores
      // populate: one tiny cache entry per EXECUTOR (unique url per JVM)
      spark.sparkContext.parallelize(0 until slots, slots).barrier()
        .mapPartitions { _ =>
          org.apache.spark.BarrierTaskContext.get().barrier()
          val eid = org.apache.spark.SparkEnv.get.executorId
          val fc = graft.multimodal.FileCache.forDir(cacheDir)
          val tmp = java.nio.file.Files.createTempFile(fc.dir, ".fetch", ".bin")
          java.nio.file.Files.write(tmp, Array.fill[Byte](64)(1))
          // same-executor tasks race to the same url: second add dedupes
          fc.add(graft.multimodal.FileCache.AnonTableId, 0,
            s"http://probe/$eid", tmp)
          Iterator.single(eid)
        }.collect()
      val rows = graft.multimodal.FileCache.clusterStats(spark, cacheDir)
        .collect()
        .map(r => (r.getString(0), r.getInt(2)))
        .sortBy(_._1)
      rows.foreach { case (eid, nf) => println(s"STATS $eid $nf") }
      // local-cluster executor ids are "0" and "1"; each holds a cache
      val ids = rows.map(_._1).toSeq
      require(ids == Seq("0", "1"),
        s"expected one stats row per executor (0, 1), got $ids")
      println("PROBE_OK")
    } finally spark.stop()
  }
}
