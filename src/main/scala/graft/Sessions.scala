package graft

import org.apache.spark.sql.SparkSession

/** The one session config every entry point plans under: Bench, Verify, the
  * tools and the test harness. Timings and plan traces from different tools
  * only compare when they come from the same config, so no other file builds
  * a session. Depends only on Spark, so `tools/bench_ab.py` can overlay it
  * (with `Bench.scala`) onto an older tree.
  */
object Sessions {
  /** `local[cpus]` with one shuffle partition per core; `cpus` defaults to
    * `SPARK_GRAFT_CPUS`, else 4. Reuses a session that is already running.
    */
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)): SparkSession =
    start(s"local[$cpus]", cpus, Map.empty)

  /** The same config on `local-cluster[workers,cores,memMb]`: real executor
    * JVMs, one shuffle partition per executor core. Executors get this JVM's
    * classpath and the add-opens flags from the `graft.probe.addOpens`
    * system property; they need `SPARK_HOME` set.
    */
  def cluster(workers: Int, cores: Int, memMb: Int): SparkSession = {
    // Absolutized: the standalone worker starts executors in their own work
    // dir, so a relative `target/scala-2.13/classes` resolves to nothing
    // there. The failure is not a ClassNotFoundException but `ClassCast
    // Exception: cannot assign instance of SerializedLambda` on every
    // shipped lambda: ObjectInputStream swallows the lookup failure inside
    // SerializedLambda.readResolve.
    val classPath = System.getProperty("java.class.path")
      .split(java.io.File.pathSeparator)
      .map(p => new java.io.File(p).getAbsolutePath)
      .mkString(java.io.File.pathSeparator)
    // -Dspark.* keys are rejected inside extraJavaOptions
    val javaOpts = (sys.props.getOrElse("graft.probe.addOpens", "") +
      " --add-modules=jdk.incubator.vector").trim
    start(s"local-cluster[$workers,$cores,$memMb]", workers * cores, Map(
      "spark.executor.extraClassPath" -> classPath,
      "spark.executor.extraJavaOptions" -> javaOpts))
  }

  private def start(master: String, partitions: Int,
      extra: Map[String, String]): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // DuckDB and pyarrow read µs timestamps losslessly; INT96 they do not
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
