package graft.streaming

import graft.catalog.GraftTable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface. The reference has no stream processing —
  * its incremental story is view maintenance on insert (SURVEY.md §2.11,
  * reference `plan.py:761-834`); `foreachBatchInto` is the streaming analog
  * (micro-batches land as table versions, computed columns evaluate per
  * batch), and `windowedCounts` is the watermarked event-time aggregation
  * the north star asks for beyond the reference surface.
  */
object Streaming {

  /** File stream over a directory of parquet drops. */
  def fileStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Watermarked tumbling-window aggregation over an event stream. */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
      windowLen: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))

  /** Stateful streaming dedup: drop rows whose key was already seen, with a
    * watermark bounding the dedup state (keys older than the watermark are
    * evicted — the streaming form of exact dedup at unbounded input).
    * Key-ONLY dedup: the same key at a different timestamp inside the
    * watermark is still a duplicate, so state is keyed on `keyCols` alone
    * (`dropDuplicatesWithinWatermark`, Spark 3.5+), not on (key, ts).
    */
  def dedupStream(events: DataFrame, tsCol: String, keyCols: Seq[String],
      watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Incremental maintenance into a versioned table: every micro-batch is an
    * insert (one table version per batch), so computed columns, MVCC and
    * time travel apply to streamed data exactly as to batch inserts.
    */
  def foreachBatchInto(stream: DataFrame, table: GraftTable,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) { table.insert(batch); () }
      }
      .start()

  /** One closed gap-session (same fields q40's batch sessionization emits,
    * so the two surfaces are directly comparable).
    */
  final case class Session(
      user_id: Long,
      session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp,
      n_events: Long)

  /** Open-session state carried between micro-batches. */
  final case class OpenSession(startMs: Long, endMs: Long, n: Long)

  /** Streaming gap-based sessionization — the batch q40 semantics (a
    * `gapMs` quiet period closes the session) on an unbounded stream via
    * `flatMapGroupsWithState` with an EVENT-time timeout: per-key state is
    * one open session; a batch's events extend it or close it (gap inside
    * the batch), and the watermark passing `end + gap` closes it between
    * batches — so state is O(keys), eviction is driven by event time, and
    * late data inside the watermark still lands in its session. This is
    * the custom-state tier Structured Streaming's built-in windowed aggs
    * can't express (`session_window` exists, but not with per-event custom
    * merge/emit logic — this operator is the template for any such state).
    *
    * Input columns: user_id (long), ts (timestamp). A group's rows arrive
    * in micro-batch order, not event-time order, so the handler sorts each
    * group's batch slice by event time before folding.
    */
  def sessionizeStream(events: DataFrame, gapMs: Long,
      watermark: String): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withWatermark("ts", watermark)
      .select(col("user_id").cast("long"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[OpenSession]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[Session]
          def close(s: OpenSession): Unit =
            out += Session(key, new java.sql.Timestamp(s.startMs),
              new java.sql.Timestamp(s.endMs), s.n)
          if (!rows.hasNext && state.hasTimedOut) {
            // watermark passed end + gap: the open session is final
            state.getOption.foreach(close)
            state.remove()
          } else {
            val ts = rows.map(_._2.getTime).toArray.sorted
            var cur = state.getOption
            ts.foreach { t =>
              cur match {
                case Some(s) if t - s.endMs <= gapMs =>
                  cur = Some(s.copy(endMs = math.max(s.endMs, t), n = s.n + 1))
                case Some(s) => // gap exceeded inside the batch: session closed
                  close(s)
                  cur = Some(OpenSession(t, t, 1))
                case None =>
                  cur = Some(OpenSession(t, t, 1))
              }
            }
            cur match {
              case Some(s) =>
                state.update(s)
                // fires once the event-time watermark passes this instant
                state.setTimeoutTimestamp(s.endMs + gapMs)
              case None => state.remove()
            }
          }
          out.iterator
      }
  }

  /** One near-dup verdict of one signature band: `dup_of` is the id of the
    * FIRST seen document sharing that band and within `maxHamming` SimHash
    * bits, or −1 when there is none.
    */
  final case class NearDupVerdict(doc_id: Long, simhash: String, dup_of: Long,
      band: Int)

  /** Streaming near-duplicate detection — the crawl-ingest shape: incoming
    * documents are SimHashed declaratively, then checked against keyed
    * state (`flatMapGroupsWithState`) holding the signatures seen so far.
    * The 16-char signature is cut into `bands` disjoint bands of `bandLen`
    * chars; each document enters one state key per band, (band index,
    * band value). A document within `maxHamming` bits of ANY prior
    * signature under a key reports that key's first such document in
    * `dup_of`; every signature enters state regardless (transitive chains
    * keep pointing at the earliest seen copy). Per-batch processing order
    * is doc_id (deterministic); state per key is FIFO-capped at
    * `maxPerBucket` signatures. The stream emits one verdict per document
    * and band; [[combineBands]] min-combines them.
    *
    * Scale/fidelity contract: state is O(keys × maxPerBucket), keyed
    * shuffle only. The default, one 8-char band (the signature prefix),
    * is the single-pass approximation: a pair whose differing bits fall
    * inside the band lands under different keys and is missed. Four
    * 4-char bands are pigeonhole-exact for `maxHamming` ≤ 3: any pair
    * within 3 signature chars has an identical band, so the min-combined
    * verdict is the batch banded-LSH answer, the earliest prior within
    * the bound — gated end-to-end by q197 against a full-hamming SQL
    * oracle.
    */
  def nearDupStream(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, maxPerBucket: Int = 10000,
      bandLen: Int = 8, bands: Int = 1): Dataset[NearDupVerdict] = {
    require(bandLen >= 1 && bands >= 1 && bandLen * bands <= 16,
      s"nearDupStream: $bands bands of $bandLen chars do not fit a 16-char signature")
    val spark = docs.sparkSession
    import spark.implicits._
    def hamming(a: String, b: String): Int =
      a.zip(b).count { case (x, y) => x != y }
    val withSig = docs.select(col(idCol).cast("long").as("doc_id"),
        graft.functions.TextFunctions.simhash16(
          split(lower(col(textCol)), "\\s+")).as("sig"))
      .as[(Long, String)]
    withSig
      .flatMap { case (id, sig) =>
        (0 until bands).map(b =>
          (b, sig.substring(b * bandLen, (b + 1) * bandLen), id, sig))
      }
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[List[(String, Long)], NearDupVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Int, String), rows: Iterator[(Int, String, Long, String)],
         state: GroupState[List[(String, Long)]]) =>
          var seen = state.getOption.getOrElse(Nil) // newest-first FIFO
          val out = rows.toSeq.sortBy(_._3).map { case (_, _, id, sig) =>
            // earliest matching doc = LAST match in the newest-first list
            val hit = seen.reverseIterator
              .find { case (s, _) => hamming(s, sig) <= maxHamming }
            seen = (sig, id) :: seen
            NearDupVerdict(id, sig, hit.map(_._2).getOrElse(-1L), key._1)
          }
          state.update(seen.take(maxPerBucket))
          out.iterator
      }
  }

  /** Batch min-combine of [[nearDupStream]]'s per-band verdicts: one row
    * per document (doc_id, simhash, dup_of), `dup_of` the smallest id any
    * band reported, or −1.
    */
  def combineBands(verdicts: DataFrame): DataFrame =
    verdicts.groupBy("doc_id")
      .agg(first("simhash").as("simhash"),
        coalesce(min(when(col("dup_of") =!= -1L, col("dup_of"))), lit(-1L))
          .as("dup_of"))
}
