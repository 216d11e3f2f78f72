package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every SparkEntry query at SPARK_GRAFT_SF_DIR
  * and prints one JSON line. A warmup action runs first so the first
  * measured query doesn't absorb JVM/codegen/session startup, and queries
  * run in name order so timings are comparable across rounds.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // warmup: a small real query through the full stack (scan+agg+codegen)
    try SparkEntry.queries.head._2(spark, sfDir).collect()
    catch { case _: Throwable => () }
    // One warmup pass over the whole suite (pays per-query codegen), then
    // TWO full timed passes with the per-query MIN reported. The repeats
    // are INTERLEAVED across queries — suite pass 1, then pass 2 —
    // rather than back-to-back per query: host-level stalls on this VM
    // showed 2-30x one-off inflation lasting multiple seconds, so
    // consecutive runs of one query can all land inside a stall and
    // produce phantom 12x cross-round swings. Spreading the repeats
    // hundreds of seconds apart makes the min a true steady-state sample.
    // Two passes (down from three in r13): the r13 driver bench hit its
    // ~1,500 s wall-clock budget (BENCH_r13.json rc=124, no numbers); one
    // pass of ~211 s was pure margin the budget no longer affords.
    // noop sink, NOT count(): count() lets Catalyst prune computed columns
    // and aggregate expressions wholesale (a minhash/UDAF query times
    // near-zero while computing nothing); the noop sink forces every
    // output row to be fully produced without driver materialization.
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    // Streaming gates (fixture staging + checkpointed state stores per
    // invocation, 4.5-16 s each in r13) are dominated by fixed replay
    // machinery, not codegen, so a full warmup pass buys nothing — but
    // the r14 single-sample policy let one host stall land permanently
    // in the official record (q184: 77.5 s driver vs 24.6 s controlled).
    // Streaming gates therefore skip the warmup pass but ARE timed in
    // both measured passes (min-of-2, interleaved like everything else);
    // the ~120 s this costs fits the r14 driver headroom (~400 s).
    // "_stream_" with trailing underscore: "_stream" also matched the
    // BATCH query q175_clip_streams, denying it warmup + min-of-2 and
    // turning cold-codegen jitter into phantom cross-round swings.
    def isStreaming(name: String): Boolean = name.contains("_stream_")
    // A throw records a -1.0 sentinel, NOT the elapsed-to-failure time: a
    // broken query fast-fails in ~0.06 s, which a round-over-round diff
    // reads as a phantom 20x speedup (this exact failure mode hid the r6
    // events-loader breakage inside a "faster" number).
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
    }
    queries.foreach { case (name, fn) =>
      if (!isStreaming(name)) once(fn) // warmup pass skips streaming gates
    }
    // Streaming gates skip the suite warmup pass, so their first sample
    // would pay the JVM-wide first-stream costs (micro-batch planner,
    // state-store provider classes, streaming codegen) on top of their
    // own work — the r14 A/B measured 3-10x cold inflation from exactly
    // this. One tiny throwaway stream pays those costs before anything
    // is timed. Temp-dir handling is inlined (not QueryUtil.tempDir) so
    // this file stays overlay-portable: tools/bench_ab.py copies the
    // CURRENT Bench.scala and Sessions.scala into the prev-commit
    // worktree, which may predate helpers elsewhere in the tree, so this
    // file depends only on SparkEntry and Sessions.
    try {
      val warmDir = java.nio.file.Files.createTempDirectory("bench_swu")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(warmDir).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(f => try java.nio.file.Files.deleteIfExists(f)
              catch { case _: Exception => () })
        } catch { case _: Exception => () }
      }))
      import spark.implicits._
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
        .coalesce(1).write.mode("overwrite").parquet(warmDir.toString)
      val q = spark.readStream
        .schema("id LONG, v STRING").parquet(warmDir.toString)
        .groupBy("v").count()
        .writeStream.format("memory")
        .queryName("bench_stream_warmup").outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } catch { case _: Throwable => () }
    val pass1 = queries.map { case (name, fn) => name -> once(fn) }
    val pass2 = queries.map { case (name, fn) => name -> once(fn) }
    val passes = Seq(pass1, pass2)
    val results = queries.map { case (name, _) =>
      val samples = passes.map(_.toMap.apply(name))
      val ok = samples.filter(_ >= 0)
      name -> (if (ok.nonEmpty) ok.min else -1.0)
    }
    // millisecond precision: full doubles made the line long enough that
    // the driver's tail capture truncated the leading queries out of
    // BENCH_rNN.json; 3 decimals keeps all ~96 entries comfortably inside
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    // total sums SUCCESSFUL queries only (a lower bound when errors > 0);
    // errors are listed by name so a red query is loud, not a fast number
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val errs = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","errors":$errs,"queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // The driver captures a bounded log tail, which has truncated the
    // lexically-first queries out of BENCH_rNN.json in past rounds (q100+
    // sort before q20, pushing q20+ timings off the front). Persist the
    // complete per-query map to its own file so every round's numbers are
    // diffable regardless of tail size.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    // a failed write goes to stderr: stdout's last line stays the compact one
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception => System.err.println(s"[bench] could not write $outPath: $e") }
    // The full one-line JSON above is ~5.5 KB at 206 queries — larger than
    // the driver's 2,000-char stdout tail, so BENCH_r14/r15 both recorded
    // `parsed: null` and PERF came back empty (r15 VERDICT item 2). Print a
    // COMPACT totals-only line LAST so the metric always parses from any
    // tail window; the complete per-query map stays in the detail file
    // (`outPath`, written above) to diff. This is a measurement-
    // REPORTING fix only: the timed methodology (noop sink, interleaved
    // min-of-2, name order) is unchanged and the full line still prints.
    val detail = outPath.replace("\\", "\\\\").replace("\"", "\\\"") // JSON-escaped
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","errors":$errs,"n":${results.length},"detail":"$detail","sf":"$sfDir"}""")
    spark.stop()
  }
}
