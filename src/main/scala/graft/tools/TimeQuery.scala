package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Time individual registry queries: `runMain graft.tools.TimeQuery
  * <sfDir> <reps> <name...>`. Same session config + noop-sink protocol as
  * graft.Bench, but scoped to named queries — for bisecting one query's
  * regression without a 10-minute full-suite run. Each line also shows the
  * janino compiles and compile time of the timed reps (Spark's
  * `CodegenMetrics`), so a query's codegen share shows without a debug log,
  * and the Spark jobs of each timed rep (`jobs=`), which unlike wall clock
  * do not vary from host to host.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val names = args.drop(2).toSeq
    val spark = graft.Sessions.local()
    val qs = graft.SparkEntry.queries
    // Spark numbers jobs in submission order, so the id gap between two
    // one-task marker jobs counts the jobs a timed rep ran in between
    // (streaming micro-batches and other threads' jobs included)
    def markerJob(): Int = {
      val f = spark.sparkContext.parallelize(Seq(0), 1).countAsync()
      f.get()
      f.jobIds.head
    }
    names.foreach { n =>
      val fn = qs(n)
      def run(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      run() // warmup
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      var mark = markerJob()
      val (times, jobs) = (0 until reps).map { _ =>
        val t = run()
        val next = markerJob()
        val jobs = next - mark - 1
        mark = next
        (t, jobs)
      }.unzip
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
      println(f"[time] $n min=${times.min}%.3f all=${times.map(t => f"$t%.3f").mkString(",")}" +
        f" compiles=$compiles compile_ms=$compileMs%.0f jobs=${jobs.mkString(",")}")
    }
    spark.stop()
  }
}
