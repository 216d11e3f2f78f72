package graft.tools

import graft.SparkEntry

/** Plan hygiene check across the whole query registry: for each query print
  * whether the physical plan has parquet filter pushdown, broadcast joins,
  * and whole-stage codegen, plus the count of exchanges (shuffles).
  * Run: `sbt "runMain graft.tools.ExplainCheck [sfDir] [namePrefix]"`.
  */
object ExplainCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val prefix = args.drop(1).headOption.getOrElse("")
    val spark = graft.Sessions.local()
    SparkEntry.queries.toSeq.sortBy(_._1).filter(_._1.startsWith(prefix)).foreach {
      case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          df.collect() // materialize so AQE finalizes the adaptive plan
          val plan = df.queryExecution.executedPlan.toString
          val pushed = plan.contains("PushedFilters: [") &&
            plan.linesIterator.exists(l => l.contains("PushedFilters: [") && !l.contains("PushedFilters: []"))
          val bcast = plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin")
          // codegen'd operators print with a "*(n)" prefix in toString
          val wscg = plan.contains("WholeStageCodegen") || plan.contains("*(")
          val shuffles = plan.linesIterator.count(_.contains("Exchange"))
          val joins = plan.linesIterator.count(_.contains("Join"))
          println(f"$name%-24s pushed=$pushed%-5s broadcastJoin=$bcast%-5s wscg=$wscg%-5s exchanges=$shuffles joins=$joins")
        } catch { case e: Throwable => println(s"$name EXPLAIN FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
