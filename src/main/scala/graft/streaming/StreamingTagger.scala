package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming surface. The reference is batch-only (its
  * "resume" is file-grain checkpointing, SURVEY §2.8) — this module is the
  * additive streaming path a live ingestion pipeline needs: the same
  * fused tagger battery and mixer predicates run incrementally over a
  * stream of documents, plus watermarked stateful sessionization.
  *
  * The batch/stream parity is structural: `TagRunner.tag` applies to a
  * streaming frame unchanged (its battery is a stateless narrow map), so a
  * document scores the same whether it arrived in a backfill batch or on
  * the stream.
  */
object StreamingTagger {

  /** Stateful stream: per-user session aggregation with
    * `flatMapGroupsWithState` and an EVENT-TIME timeout — the custom-state
    * surface (KeyValueGroupedDataset) of SURVEY §2.8. A session closes and
    * emits `(user, session_start_us, n_events)` either when a later event
    * arrives past the 30-minute gap, or when the stream's WATERMARK passes
    * `last + gap` (the timeout path): a user who goes idle still gets
    * their final session emitted, and their state is REMOVED — state size
    * is bounded by currently-active users, not every user ever seen.
    * `events` carries (`userCol`: long, `tsCol`: timestamp); the watermark
    * is applied here (EventTimeTimeout requires one). */
  def sessionize(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", watermarkDelay: String = "0 seconds")
      : org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = 1800000000L
    events
      .select(col(userCol).cast("long").as("u"), col(tsCol).cast("timestamp").as("t"))
      .withWatermark("t", watermarkDelay)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        // state = (sessionStartUs, lastUs, count)
        case (user, rows, state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            val (start, _, count) = state.get
            state.remove()
            Iterator.single((user, start, count))
          } else {
            var (start, last, count) = state.getOption.getOrElse((0L, 0L, 0L))
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
            rows.map(_._2.getTime * 1000L).toSeq.sorted.foreach { us =>
              if (count == 0) { start = us; last = us; count = 1 }
              else if (us - last > gapUs) {
                out += ((user, start, count))
                start = us; last = us; count = 1
              } else { last = us; count += 1 }
            }
            state.update((start, last, count))
            // fire once the watermark passes the session's gap horizon
            state.setTimeoutTimestamp(last / 1000L + gapUs / 1000L)
            out.iterator
          }
      }
  }

  /** Streaming exact-dedup state (the Bloom-probe made incremental):
    * per-key custom state remembers occurrences seen so far; each
    * micro-batch emits the key's updated total and how many of the new
    * arrivals were duplicates. State is one counter per distinct key —
    * the streaming analogue of the batch first-occurrence window, with
    * the same single-shuffle-on-key shape. */
  def dedupCounts(keyed: org.apache.spark.sql.Dataset[String])
      : org.apache.spark.sql.Dataset[(String, Long, Long)] = {
    import keyed.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    keyed.groupByKey(identity)
      .flatMapGroupsWithState[Long, (String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[Long]) =>
          val before = state.getOption.getOrElse(0L)
          val arrived = rows.size.toLong
          val total = before + arrived
          state.update(total)
          val dupsInBatch = if (before > 0) arrived else arrived - 1
          Iterator((key, total, dupsInBatch))
      }
  }

  /** Drain an already-built stream into an in-memory table, processing
    * everything currently available — the batch-driven smoke harness
    * (Trigger.AvailableNow; memory sink = verification vehicle only). */
  def runAvailableNow(stream: DataFrame, queryName: String): StreamingQuery =
    stream.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
}
