package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import graft.io.ParquetFooters

/** One operator-inventory query: a Spark implementation plus (optionally) a
  * DuckDB-oracle SQL producing identical rows/columns on the same parquet
  * tables. See SURVEY.md §2 for the inventory this covers.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
)

/** Query helpers shared by the registry. */
object QueryUtil {
  /** Total order for a SMALL final result without a range sort.
    * `orderBy` plans RangePartitioning, whose bounds SAMPLING re-executes
    * every operator below it down to the nearest materialized stage — for
    * plans whose upstream has no shuffle (broadcast joins, scans+UDFs) that
    * doubles the whole query (measured 2.25s → 1.18s on q34). A 1-partition
    * exchange + local sort gives the identical row order with one upstream
    * execution; only valid when the result is small enough for one task —
    * true for every oracle-checked output here (the driver materializes
    * them anyway). At scale, keep orderBy for large results.
    */
  def orderedSmall(df: org.apache.spark.sql.DataFrame,
      cols: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  /** Temp fixture dir that a JVM shutdown hook deletes recursively.
    * Registry gates stage parquet fixtures, checkpoints and sinks per
    * invocation; `Files.createTempDirectory` alone leaked them — the
    * driver host accumulated thousands of dirs (11 GB of /tmp by round
    * 14) across repeated verify/bench runs. Deletion at JVM exit keeps
    * the dirs alive for the whole run (streams re-read their staging
    * late), then reclaims them.
    */
  def tempDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    cleanupAtExit(p)
    p
  }

  private val toDelete =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = toDelete.poll()
      while (p != null) {
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(f => try java.nio.file.Files.deleteIfExists(f)
              catch { case _: Exception => () })
        } catch { case _: Exception => () }
        p = toDelete.poll()
      }
    }))

  /** Register an existing path for recursive deletion at JVM exit. */
  def cleanupAtExit(p: java.nio.file.Path): Unit = {
    hookInstalled
    toDelete.add(p)
  }

  /** Stage a gate fixture frame as `nFiles` mtime-ordered single-file
    * parquet drops in ONE write job. The previous per-gate pattern ran one
    * `filter(...).coalesce(1).write` job per slice, re-executing the whole
    * staging subplan (scan + join/window + exprs) `nFiles` times — measured
    * 1.7-3.8 s per gate vs 0.5-1.1 s for this single partitionBy write
    * (r15 Scratch capture). `fileIdx` must evaluate to an int in
    * [0, nFiles); a slice with no rows gets an empty single-file parquet
    * (schema-only), exactly what the per-slice writes produced, so the
    * replay's micro-batch structure is unchanged.
    */
  def stageStreamFiles(df: org.apache.spark.sql.DataFrame,
      fileIdx: org.apache.spark.sql.Column, nFiles: Int, prefix: String,
      mtimeBase: Long): java.nio.file.Path = {
    import org.apache.spark.sql.functions.col
    val stage = tempDir(prefix)
    val tmp = tempDir(prefix + "_w")
    val withK = df.withColumn("_k", fileIdx.cast("int"))
    withK
      .repartition(col("_k")) // all rows of one k in one task → one file per k
      .write.mode("overwrite").partitionBy("_k").parquet(tmp.toString)
    // empty slices produce no _k=<k> dir; one empty single-file write is
    // copied into each hole (bounded: only fires at small SFs where a
    // gate's id range overruns the corpus)
    lazy val emptySrc = {
      val e = tempDir(prefix + "_e")
      withK.drop("_k").limit(0).coalesce(1)
        .write.mode("overwrite").parquet(e.toString)
      new java.io.File(e.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
    }
    (0 until nFiles).foreach { k =>
      val dir = new java.io.File(tmp.resolve(s"_k=$k").toString)
      val dst = stage.resolve(f"b$k%02d.parquet")
      if (dir.isDirectory)
        java.nio.file.Files.move(
          dir.listFiles().find(_.getName.endsWith(".parquet")).get.toPath, dst)
      else
        java.nio.file.Files.copy(emptySrc, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtimeBase + k * 60_000L))
    }
    // The [0, nFiles) contract on fileIdx was docstring-only (r15 ADVICE):
    // a null or out-of-range index lands rows in a partition dir the move
    // loop never visits (_k=<k> outside the range, or
    // __HIVE_DEFAULT_PARTITION__ for null) and the old per-slice filters
    // would have silently dropped them too. Fail loudly instead: a
    // partition dir still HOLDING a parquet file after the move loop is
    // data the replay would lose (in-range dirs remain as empty husks —
    // Files.move relocates only the file).
    val leftovers = Option(new java.io.File(tmp.toString).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory &&
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .exists(_.getName.endsWith(".parquet")))
    require(leftovers.isEmpty,
      s"stageStreamFiles: fileIdx produced values outside [0, $nFiles): " +
        leftovers.map(_.getName).mkString(", "))
    stage
  }

  /** State-store partition count of a gate stream. A streaming query fixes
    * its state-store partition count from `spark.sql.shuffle.partitions`
    * at first start; the bench session's 32 local-mode partitions mean
    * every micro-batch of every gate stream commits 32 state-store
    * partitions (plus 32-task stateful stages) for fixtures of <100 rows
    * and ≤256 state keys — measured 25 s/stream at 32 partitions vs 5 s at
    * 4 on q184's shape. State-partition count is a state-size decision,
    * not a core-count one: production deployments of the same operators
    * size it to their key space at their own stream start; the gates size
    * it to their fixture.
    */
  val GateStreamPartitions: Int = 4

  /** Run `body` with `spark.sql.shuffle.partitions` set to
    * [[GateStreamPartitions]], restoring the previous value after.
    */
  def withGateStreamPartitions[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.getOption(key)
    s.conf.set(key, GateStreamPartitions.toString)
    try body finally old.fold(s.conf.unset(key))(s.conf.set(key, _))
  }

  /** Fan-out width for map-heavy work fed by a SINGLE-file staged fixture
    * (one parquet row group → one scan partition → one task does all the
    * gram/decode work).
    *
    * Deliberately FIXED rather than `defaultParallelism`: the same queries
    * are verified and benched at 32, 8 and 4 cores, and a width that
    * floats with the session would change the row→partition assignment
    * and therefore the accumulation order of every rounded double
    * aggregate downstream — a correctness hazard for oracle hash checks,
    * not a tuning choice. At real scale the input is many files and the
    * scan parallelizes without this fan-out anyway.
    */
  val Fanout: Int = 32

  /** Replay the parquet files staged in `stage` through `query`, one file
    * per micro-batch in modification-time order, to completion
    * (`Trigger.AvailableNow`) under [[withGateStreamPartitions]], from a
    * fresh checkpoint unless `checkpoint` names one; `sink` picks the sink
    * (format, path or name, or a foreachBatch).
    */
  def replayStream(s: SparkSession, stage: java.nio.file.Path,
      outputMode: String = "append",
      checkpoint: String = tempDir("gate_ck").toString)(
      query: DataFrame => DataFrame)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit =
    withGateStreamPartitions(s) {
      val in = s.readStream.schema(ParquetFooters.schemaAt(s, stage.toString))
        .option("maxFilesPerTrigger", "1").parquet(stage.toString)
      sink(query(in).writeStream.outputMode(outputMode)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow()))
        .start().awaitTermination()
    }

  /** [[replayStream]] into a uniquely named memory sink; returns its table. */
  def replayToMemory(s: SparkSession, stage: java.nio.file.Path,
      outputMode: String = "append")(query: DataFrame => DataFrame): DataFrame = {
    val name = "gate_" + java.util.UUID.randomUUID().toString.replace("-", "")
    replayStream(s, stage, outputMode)(query)(_.format("memory").queryName(name))
    s.table(name)
  }

  /** Checkpoint-restart parity of a stateful replay. The files staged in
    * `side` land in a live dir in name order: incarnation 1 replays the
    * first two of them into a parquet sink and stops; the rest land
    * and incarnation 2 resumes from the same checkpoint (committed offsets
    * plus the state store reloaded off disk). Both incarnations run on
    * `run`; beside incarnation 2, a control replays every file from a
    * fresh checkpoint on `s`. Returns the parquet sink and whether it holds
    * `rows` rows equal to the control's as a multiset (compared on the
    * driver: gate sinks are tens of rows).
    */
  def restartParity(s: SparkSession, run: SparkSession,
      side: java.nio.file.Path, rows: Int)(
      query: DataFrame => DataFrame): (DataFrame, Boolean) = {
    val stage = tempDir("restart_in")
    val files = new java.io.File(side.toString).list().sorted
    def land(names: Seq[String]): Unit = names.foreach(n =>
      java.nio.file.Files.move(side.resolve(n), stage.resolve(n)))
    val ck = tempDir("restart_ck").toString
    val out = tempDir("restart_out").toString
    def incarnation(): Unit = replayStream(run, stage, checkpoint = ck)(query)(
      _.format("parquet").option("path", out))
    land(files.take(2).toSeq)
    incarnation()
    land(files.drop(2).toSeq)
    // incarnation 2 and the control are independent streams, run
    // overlapped; both sessions hold the gate partition count across the
    // pair, so one thread's restore cannot land before the other's start
    val Seq(restarted, control) =
      withGateStreamPartitions(s)(withGateStreamPartitions(run)(
        inParallel(Seq(() => { incarnation(); s.read.parquet(out) },
          () => replayToMemory(s, stage)(query)))))
    def multiset(rs: Array[Row]) = rs.groupBy(identity).view.mapValues(_.length).toMap
    val restRows = restarted.collect()
    (restarted, restRows.length == rows &&
      multiset(restRows) == multiset(control.collect()))
  }

  /** Run independent thunks concurrently and return their results in
    * order (guide §2.6: Spark's scheduler overlaps jobs submitted from
    * several threads — a streaming gate's independent passes otherwise
    * serialize their fixed micro-batch machinery; measured 17.2 s → 5.5 s
    * for four q184-shaped streams, r15 Scratch capture).
    */
  def inParallel[A](bodies: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(bodies.length)
    try {
      val futs = bodies.map(b =>
        pool.submit(new java.util.concurrent.Callable[A] { def call(): A = b() }))
      try
        futs.map(f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause })
      catch {
        case e: Throwable =>
          // Fail-fast must not leak siblings (r15 ADVICE): without this a
          // failed gate pass left the remaining bodies running detached —
          // orphan streams surviving into the next timed query, and a
          // set/restore conf wrapper could restore before a late sibling
          // started. Cancel everything not yet running, interrupt what is,
          // and WAIT for the bodies to actually exit before rethrowing.
          futs.foreach(_.cancel(true))
          pool.shutdownNow()
          pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
          throw e
      }
    } finally pool.shutdown()
  }
}

/** Loaders for the driver-provided parquet corpus (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
  )

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet's ts physical type varies by generator version
    // (TESTDATA.md "events schema contract"): TIMESTAMP(NANOS) — which
    // Spark's parquet reader rejects unless read as long — or plain
    // timestamp[us]. Branch on the physical schema rather than assuming.
    // The schema comes from the file's footer, read on the driver after
    // nanosAsLong is set: `spark.read.parquet` would infer the same schema
    // with a Spark job on every table read.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(ParquetFooters.schemaAt(spark, path)).parquet(path)
    if (name == "events") df.withColumn("ts", normalizeTs(df)) else df
  }

  /** Normalize the events `ts` column to TIMESTAMP_NTZ regardless of the
    * generator's physical type. LongType means nanosAsLong kicked in
    * (TIMESTAMP(NANOS) file): truncate ns → µs exactly as DuckDB's reader
    * does. Timestamp/NTZ means a µs file: cast only — arithmetic like
    * `ts div 1000` would analysis-fail on TimestampType.
    */
  def normalizeTs(df: DataFrame): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz")
      case _ =>
        col("ts").cast("timestamp_ntz")
    }
}
