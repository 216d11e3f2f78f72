package graft.streaming

import graft.TestSpark
import graft.catalog.{Catalog, ColumnDef, GraftTable}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("windowed aggregation over a file stream (memory sink)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val batch = Seq(
      ("2024-01-01 00:01:00", "click", 1.0),
      ("2024-01-01 00:02:00", "click", 2.0),
      ("2024-01-01 00:07:00", "view", 3.0),
    ).toDF("ts_s", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    batch.write.mode("overwrite").parquet(dir)

    val stream = Streaming.fileStream(spark, dir, batch.schema)
    val agg = Streaming.windowedCounts(stream, "ts", "event_type", "5 minutes", "10 minutes")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("win_out")
      .select("event_type", "n", "total").orderBy("event_type").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("click", 2L, 3.0), ("view", 1L, 3.0)))
  }

  test("real events table drives a windowed stream (adaptive ts schema)") {
    // copy the corpus events file into a stream directory; its ts physical
    // type varies by generator version (TIMESTAMP(NANOS) or timestamp[us] —
    // TESTDATA.md), so normalize exactly like the batch path in graft.Tables
    val dir = java.nio.file.Files.createTempDirectory("graft-events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(dir.toString)
    val stream = spark.readStream.schema(raw.schema).parquet(dir.toString)
      .withColumn("ts", graft.Tables.normalizeTs(raw).cast("timestamp"))
    val agg = Streaming.windowedCounts(stream, "ts", "event_type", "1 hour", "1 hour")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("events_win").start()
    q.processAllAvailable(); q.stop()
    val total = spark.table("events_win").agg(sum("n")).head().getLong(0)
    assert(total == 1000L) // every corpus event lands in exactly one window
  }

  test("stateful stream dedup drops repeated keys") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-stream").toString
    val batch = Seq(
      ("2024-01-01 00:01:00", 1L, "a"),
      ("2024-01-01 00:01:00", 1L, "a-dup"),
      ("2024-01-01 00:03:00", 1L, "a-later-ts-dup"), // same key, DIFFERENT ts, inside watermark
      ("2024-01-01 00:02:00", 2L, "b"),
    ).toDF("ts_s", "key", "payload")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    batch.write.mode("overwrite").parquet(dir)
    val stream = Streaming.fileStream(spark, dir, batch.schema)
    val deduped = Streaming.dedupStream(stream, "ts", Seq("key"), "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("dedup_out").select("key").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("streaming near-dup: per-bucket simhash state matches a batch replay across micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup-stream").toString
    val batch1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark shuffles and joins"),
      (3L, "the quick brown fox jumps over the lazy dog today"), // near 1
    ).toDF("doc_id", "text")
    val batch2 = Seq(
      (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (5L, "yet another unrelated piece of text entirely here"),
    ).toDF("doc_id", "text")
    batch1.write.mode("overwrite").parquet(dir)
    val stream = Streaming.fileStream(spark, dir, batch1.schema)
    val out = Streaming.nearDupStream(stream, "doc_id", "text", maxHamming = 3)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("neardup_out").start()
    q.processAllAvailable()
    batch2.write.mode("append").parquet(dir)
    q.processAllAvailable(); q.stop()
    val got = spark.table("neardup_out").as[Streaming.NearDupVerdict].collect()
      .map(v => v.doc_id -> ((v.simhash, v.dup_of))).toMap

    // differential oracle: replay the same per-bucket fold over the SAME
    // declaratively-computed signatures in micro-batch arrival order
    val sigs = batch1.unionByName(batch2)
      .select(col("doc_id"), graft.functions.TextFunctions.simhash16(
        split(lower(col("text")), "\\s+")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    val state = scala.collection.mutable.Map.empty[String, List[(String, Long)]]
    val expected = Seq(Seq(1L, 2L, 3L), Seq(4L, 5L)).flatMap { batch =>
      batch.sorted.map { id =>
        val sig = sigs(id); val bucket = sig.substring(0, 8)
        val seen = state.getOrElse(bucket, Nil)
        val hit = seen.reverse.find { case (s, _) => ham(s, sig) <= 3 }
        state(bucket) = (sig, id) :: seen
        id -> ((sig, hit.map(_._2).getOrElse(-1L)))
      }
    }.toMap
    assert(got == expected)
    // hard pins independent of hash values: an exact duplicate always
    // reports the ORIGINAL (cross-batch state), unrelated text is novel
    assert(got(4L)._2 == 1L)
    assert(got(2L)._2 == -1L && got(5L)._2 == -1L)
  }

  test("streaming near-dup: four bands on one stream replay the per-band folds and min-combine to the earliest prior") {
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup-bands").toString
    val base = "the quick brown fox jumps over the lazy dog near the old river bank"
    val words = base.split(" ")
    def variant(i: Int, w: String) = words.updated(i, w).mkString(" ")
    val batch1 = Seq(
      (1L, base),
      (2L, "completely different content about spark shuffles and joins"),
      (3L, variant(2, "red")),
      (4L, variant(8, "cat")),
      (5L, variant(12, "lake")),
    ).toDF("doc_id", "text")
    val batch2 = Seq(
      (6L, base), // exact dup of 1
      (7L, variant(5, "under")),
      (8L, variant(10, "new")),
      (9L, "completely different content about spark shuffles and sorts"),
      (10L, "yet another unrelated piece of text entirely here"),
    ).toDF("doc_id", "text")
    batch1.write.mode("overwrite").parquet(dir)
    val stream = Streaming.fileStream(spark, dir, batch1.schema)
    val out = Streaming.nearDupStream(stream, "doc_id", "text", maxHamming = 3,
      bandLen = 4, bands = 4)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("neardup_bands_out").start()
    q.processAllAvailable()
    batch2.write.mode("append").parquet(dir)
    q.processAllAvailable(); q.stop()
    val verdicts = spark.table("neardup_bands_out")
    val got = verdicts.as[Streaming.NearDupVerdict].collect()
      .map(v => (v.doc_id, v.band) -> ((v.simhash, v.dup_of))).toMap

    // driver-side replay of the four per-band folds, state keyed on
    // (band, band value), over the same signatures in arrival order
    val sigs = batch1.unionByName(batch2)
      .select(col("doc_id"), graft.functions.TextFunctions.simhash16(
        split(lower(col("text")), "\\s+")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    val state = scala.collection.mutable.Map.empty[(Int, String), List[(String, Long)]]
    val expected = Seq((1L to 5L), (6L to 10L)).flatMap { batch =>
      batch.flatMap { id =>
        val sig = sigs(id)
        (0 until 4).map { b =>
          val key = (b, sig.substring(4 * b, 4 * b + 4))
          val seen = state.getOrElse(key, Nil)
          val hit = seen.reverse.find { case (s, _) => ham(s, sig) <= 3 }
          state(key) = (sig, id) :: seen
          (id, b) -> ((sig, hit.map(_._2).getOrElse(-1L)))
        }
      }
    }.toMap
    assert(got == expected)

    // the min-combine is the earliest prior within 3 signature chars
    val combined = Streaming.combineBands(verdicts)
      .select("doc_id", "dup_of").as[(Long, Long)].collect().toMap
    val earliest = sigs.keys.map { id =>
      id -> sigs.keys.filter(p => p < id && ham(sigs(p), sigs(id)) <= 3)
        .minOption.getOrElse(-1L)
    }.toMap
    assert(combined == earliest)
    assert(combined(6L) == 1L && combined(10L) == -1L)
  }

  test("stream lands in a versioned table via foreachBatch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream2").toString
    val cp = java.nio.file.Files.createTempDirectory("graft-cp").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "text").write.mode("overwrite").parquet(dir)

    val cat = new Catalog(java.nio.file.Files.createTempDirectory("graft-wh").toString)
    val t = GraftTable.create(spark, cat, "streamed", Seq(
      ColumnDef("id", "bigint"), ColumnDef("text", "string"),
      ColumnDef("n_chars", "bigint", Some("length(text)"))))

    val stream = Streaming.fileStream(spark, dir,
      org.apache.spark.sql.types.StructType.fromDDL("id bigint, text string"))
    val q = Streaming.foreachBatchInto(stream, t, cp)
    q.awaitTermination(60000)
    assert(t.read().count() == 2)
    // computed column evaluated on the streamed batch
    assert(t.read().filter("id = 1").head().getAs[Long]("n_chars") == 1L)
  }

  test("flatMapGroupsWithState gap sessionization: in-batch splits, cross-batch merges, watermark flush") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    val sess = Streaming.sessionizeStream(
      ms.toDF().toDF("user_id", "ts"), gapMs = 30L * 60 * 1000, watermark = "0 seconds")
    val q = sess.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    // batch 1: user 1 opens a session with 2 events; user 2 with 1
    ms.addData((1L, t("2024-01-01 00:00:00")), (1L, t("2024-01-01 00:10:00")),
      (2L, t("2024-01-01 00:05:00")))
    q.processAllAvailable()
    // batch 2: user 1's 01:00 exceeds the 30-min gap → closes the first
    // session IN-BATCH; user 2's 00:20 extends its open session cross-batch
    ms.addData((1L, t("2024-01-01 01:00:00")), (2L, t("2024-01-01 00:20:00")))
    q.processAllAvailable()
    // sentinel advances the watermark far past every end+gap; one more
    // batch lets the event-time timeouts fire and flush open sessions
    ms.addData((99L, t("2024-01-01 09:00:00")))
    q.processAllAvailable()
    ms.addData((99L, t("2024-01-01 10:00:00")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_out")
      .filter(col("user_id") < 99)
      .select("user_id", "session_start", "session_end", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getLong(3)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(got == Seq(
      (1L, "2024-01-01 00:00:00.0", "2024-01-01 00:10:00.0", 2L),
      (1L, "2024-01-01 01:00:00.0", "2024-01-01 01:00:00.0", 1L),
      (2L, "2024-01-01 00:05:00.0", "2024-01-01 00:20:00.0", 2L)))
  }

  test("streamed embeddings extend the ANN index as appended segments") {
    // streaming ingest → incremental HNSW maintenance: each micro-batch
    // becomes a new index segment (no rebuild), searches see it immediately
    import graft.operators.Hnsw
    def vec(i: Long): Array[Double] = Array.tabulate(8) { d =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"sv:$i:$d".getBytes("UTF-8"))
      java.nio.ByteBuffer.wrap(h).getInt() / Int.MaxValue.toDouble
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-annstream").toString
    val cp = java.nio.file.Files.createTempDirectory("graft-anncp").toString
    val idx = java.nio.file.Files.createTempDirectory("graft-annidx").toString + "/i"
    // seed index from an initial batch, then stream two more batches in
    val initial = (0L until 100L).map(i => i -> vec(i))
    Hnsw.buildIndex(initial.toDF("vec_id", "embedding"),
      "embedding", "vec_id", idx, shards = 2)
    (100L until 300L).map(i => i -> vec(i)).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema("vec_id bigint, embedding array<double>")
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = stream.writeStream
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          Hnsw.appendToIndex(batch, "embedding", "vec_id", idx): Unit
      }
      .start()
    q.awaitTermination(120000)
    val all = initial ++ (100L until 300L).map(i => i -> vec(i))
    assert(spark.read.parquet(idx).agg(
      org.apache.spark.sql.functions.sum("n")).head().getLong(0) == 300L)
    val query = vec(777777L)
    val got = Hnsw.search(spark, idx, query.toSeq, 10, ef = 96)
      .select("vec_id").as[Long].collect().toSet
    def cos(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    val brute = all.map { case (id, v) => (id, cos(v, query)) }
      .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
    assert((brute & got).size >= 9,
      s"streamed-index recall too low: got $got want $brute")
  }
}
