package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming extension (SURVEY.md §2.10: the reference is batch
  * only and lists Kafka streaming as future work, `README.md:253-257`;
  * this is the post-parity path the brief asks for).
  *
  * Shapes provided, mirroring the batch pipeline over the `events`-style
  * stream (event_id, ts, user_id, event_type, value):
  *
  *   - windowed rollups with watermark (the streaming form of the daily
  *     monitoring aggregations A10);
  *   - streaming ingest → the same raw-merge semantics via foreachBatch
  *     (each micro-batch calls the batch [[graft.operators.Merge]]);
  *   - sessionization with mapGroupsWithState (custom per-key state).
  *
  * Every transform is input-agnostic (works on readStream or a batch
  * DataFrame), so correctness tests drive them through MemoryStream.
  */
object StreamingJobs {

  /** Tumbling-window per-type event rollup with late-data handling.
    * Watermark bounds state: at 100 TB/day ingest, state is
    * |window × event_type| not |events|.
    */
  def windowedEventStats(events: DataFrame, watermarkDelay: String = "10 minutes",
                         windowLength: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(
        count(lit(1)).as("event_count"),
        sum(col("value")).as("total_value"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("event_count"), col("total_value"),
        col("approx_users"))

  case class SessionState(start: java.sql.Timestamp, last: java.sql.Timestamp,
                          events: Long, totalValue: Double)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        session_end: java.sql.Timestamp, events: Long,
                        total_value: Double)

  /** Per-user sessionization with mapGroupsWithState — the reference
    * implementation for arbitrary per-key streaming state. A session
    * closes after `gapMinutes` of inactivity when `gapMinutes > 0`
    * (processing-time timeout emits the final session and clears state);
    * with `gapMinutes = 0` sessions are running aggregates with no
    * timeout (bounded tests drive this mode — a pending processing-time
    * timeout otherwise keeps the test harness cycling micro-batches).
    */
  def sessionize(events: Dataset[(Long, java.sql.Timestamp, Double)],
                 gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (gapMinutes > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_._1)
      .mapGroupsWithState[SessionState, SessionOut](timeoutConf) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (gapMinutes > 0 && state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionOut(userId, s.start, s.last, s.events, s.totalValue)
          } else {
            val sorted = rows.toSeq.sortBy(_._2.getTime)
            val prev = state.getOption
            val merged = sorted.foldLeft(prev) { (acc, r) =>
              acc match {
                case Some(s) => Some(s.copy(last = r._2, events = s.events + 1,
                  totalValue = s.totalValue + r._3))
                case None => Some(SessionState(r._2, r._2, 1L, r._3))
              }
            }.get
            state.update(merged)
            if (gapMinutes > 0) state.setTimeoutDuration(s"$gapMinutes minutes")
            SessionOut(userId, merged.start, merged.last, merged.events, merged.totalValue)
          }
      }
  }

  /** BATCH event-time gap sessionization — the deterministic batch
    * analogue of [[sessionize]] (which keys sessions on processing-time
    * timeouts): a session is a maximal run of a user's events with
    * inter-event gaps ≤ `gapMinutes`. Two windows over ONE
    * user-partitioned sort — lag to flag session starts, running count
    * to number them — then a single aggregation; the classic
    * shuffle-once formulation, O(|events|) at any scale. The tiebreak
    * column makes equal-timestamp orders deterministic; the value sum
    * goes through decimal so it is order-independent.
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int,
                      userCol: String = "user_id", tsCol: String = "ts",
                      valueCol: String = "value",
                      tiebreak: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tiebreak))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapSec = gapMinutes * 60L
    events
      .withColumn("__prev", lag(col(tsCol), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull ||
          col(tsCol).cast("long") - col("__prev").cast("long") > gapSec, 1)
          .otherwise(0))
      .withColumn("__sid", sum(col("__new")).over(wRun))
      .groupBy(col(userCol), col("__sid").as("session_id"))
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"),
        graft.Exact.dsum(col(valueCol)).as("total_value"))
  }

  /** Streaming ingest dedup — the at-least-once → effectively-once
    * guard: drop rows whose key was already seen inside the watermark
    * horizon (`dropDuplicatesWithinWatermark`: per-key state EXPIRES
    * with the watermark, so memory is bounded by the horizon's key
    * cardinality, never the stream's). Redelivered rows are exact
    * copies, so which copy survives is value-irrelevant; the batch form
    * of the same contract is a plain key dropDuplicates — the streaming
    * counterpart of [[graft.llm.Dedup.exactDedupIncremental]]. Input-
    * agnostic like every transform here.
    */
  def dedupStream(rows: DataFrame, keyCols: Seq[String], tsCol: String,
                  watermarkDelay: String = "10 minutes"): DataFrame =
    if (rows.isStreaming)
      rows.withWatermark(tsCol, watermarkDelay)
        .dropDuplicatesWithinWatermark(keyCols)
    else rows.dropDuplicates(keyCols)

  /** Stream-static ENRICHMENT join — the streaming form of the star
    * lookups (J2/J3/J11): left-join the unbounded stream to a bounded
    * dimension snapshot. The dim side is broadcast, so a stream-static
    * equi-join never shuffles (or keeps state for) the stream side, and
    * Spark re-plans the static relation each micro-batch — a refreshed
    * dim snapshot is picked up without restarting the query. LEFT join
    * keeps unmatched events flowing with null enrichment, the
    * FK-violation-tolerant shape a monitoring stream wants (the batch
    * views treat orphans the same way, J6). Stateless: no watermark
    * required. Input-agnostic like every transform here; chain calls
    * for multi-hop star lookups.
    */
  def enrichStream(stream: DataFrame, dim: DataFrame,
                   streamKey: String, dimKey: String,
                   dimCols: Seq[String]): DataFrame = {
    val d = dim.select(col(dimKey).as("__dk") +: dimCols.map(col): _*)
    stream.join(broadcast(d), stream(streamKey) === col("__dk"), "left")
      .drop("__dk")
  }

  /** Watermarked stream-stream inner join: pair rows of two unbounded
    * streams on an equality key when the right timestamp falls within
    * `[leftTs - before, leftTs + after]` — clicks↔impressions,
    * orders↔payments, request↔response correlation. The time-band
    * predicate plus a watermark on BOTH sides is what makes this
    * feasible unbounded: Spark derives a state watermark from the band,
    * so each side buffers only rows still joinable against the other
    * side's future — state is bounded by rate × (band + delay), never
    * by stream length. Without the band the state would grow forever;
    * this operator makes the band part of the signature so the bounded
    * shape is the only expressible one.
    *
    * Key columns may be named differently per side; all other column
    * names must be disjoint (Spark rejects ambiguous output columns).
    * Input-agnostic: on batch frames the watermark is a no-op and the
    * same code is the plain band join, which is how the gate-style
    * tests pin semantics while MemoryStream tests pin the streaming
    * state behavior.
    */
  /** `joinType`: "inner" (default) or "left_outer" — the outer form
    * emits an unmatched left row with null right columns once the
    * watermark proves no in-band right row can still arrive (so outer
    * results are delayed by band + watermark, the price of a correct
    * negative).
    */
  def joinStreams(left: DataFrame, right: DataFrame,
                  leftKey: String, rightKey: String,
                  leftTs: String, rightTs: String,
                  before: String = "1 hour", after: String = "1 hour",
                  watermarkDelay: String = "10 minutes",
                  joinType: String = "inner"): DataFrame = {
    require(Seq("inner", "left_outer").contains(joinType),
      s"joinType must be inner or left_outer, got $joinType")
    val l = if (left.isStreaming) left.withWatermark(leftTs, watermarkDelay) else left
    val r = if (right.isStreaming) right.withWatermark(rightTs, watermarkDelay) else right
    l.join(r,
      l(leftKey) === r(rightKey) &&
        r(rightTs) >= l(leftTs) - expr(s"INTERVAL $before") &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $after"),
      joinType)
  }

  /** Streaming ingest into the batch raw-merge: each micro-batch runs the
    * same upsert the daily pipeline uses (S5/M8), giving exactly-once
    * table contents under the sink's snapshot-replace + checkpointing.
    */
  def mergeEachBatch(stream: DataFrame, key: Seq[String], tracked: Seq[String],
                     readTable: () => DataFrame, writeTable: DataFrame => Unit) =
    stream.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val merged = graft.operators.Merge.upsert(readTable(), batch, key, tracked)
        writeTable(merged.drop(graft.operators.Merge.ClassCol))
      }

  /** Streaming corpus-drift monitor — the live form of
    * [[graft.llm.CorpusStats.distributionDrift]]: every micro-batch's
    * token counts fold into a persisted running-count table (counts are
    * algebraic — union + one re-aggregation, O(batch + vocab) per
    * batch, the corpus text never re-read), and the drift of the
    * RUNNING distribution against the fixed `reference` counts is
    * emitted once per batch via `emitDrift(batchId, driftRow)` — the
    * feed a crawl-health dashboard alerts on.
    *
    * State and emission go through caller-provided read/write/emit
    * hooks (the [[mergeEachBatch]] pattern) so the same loop runs over
    * parquet tables in production and in-memory frames in tests.
    */
  def driftEachBatch(stream: DataFrame, textCol: String,
                     reference: DataFrame,
                     readCounts: () => DataFrame,
                     writeCounts: DataFrame => Unit,
                     emitDrift: (Long, DataFrame) => Unit) =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val bc = graft.llm.CorpusStats.tokenCounts(batch, textCol)
        val merged = readCounts().unionByName(bc)
          .groupBy(col("term")).agg(sum(col("c")).cast("long").as("c"))
        writeCounts(merged)
        // drift from the POST-write read-back: what was durably
        // recorded is what the emitted number describes
        emitDrift(id, graft.llm.CorpusStats
          .distributionDriftFromCounts(readCounts(), reference))
      }
}
