package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sources
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-streaming twins of the batch window/session operators.
  *
  * The reference is batch-incremental (re-run discovers only new PDFs
  * via the max-ts watermark — `src/scrape/normanpd.py:24-46`); the
  * streaming form makes that continuous: event-time watermark +
  * tumbling windows for the hourly rollup, and a stateful session
  * operator for gap-based sessionization.
  */
object EventStream {

  /** Watermarked tumbling-window rollup (streaming q11_hourly_rollup).
    * Works on any DataFrame with (ts: timestamp, event_type: string,
    * value: double) — batch or streaming.
    */
  def hourlyRollup(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))

  /** Streaming form of the reference's idempotent keyed insert
    * (`INSERT .. ON CONFLICT DO NOTHING`, reference
    * `src/db/incidents.py:41-46`): keep the first row per key, with
    * state bounded by the event-time watermark. Works on batch
    * DataFrames too (where it degenerates to dropDuplicates).
    */
  def dedupKeyed(events: DataFrame, keys: Seq[String], tsCol: String,
                 watermark: String = "1 hour"): DataFrame = {
    val wm = events.withWatermark(tsCol, watermark)
    if (events.isStreaming) wm.dropDuplicatesWithinWatermark(keys)
    else wm.dropDuplicates(keys)
  }

  case class Event(user_id: Long, event_id: Long, ts: Timestamp)
  case class SessionState(start: Long, end: Long, n: Long)
  case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long, n_events: Long)

  /** Watermarked stream-stream interval join (streaming q16_asof):
    * each purchase matches the views of the SAME user in the
    * `maxGap` of event time before it. Both sides carry watermarks
    * and the join condition is a bounded event-time interval, which
    * is exactly what lets Spark expire join state: a buffered view
    * can be dropped once the watermark passes its ts + maxGap, so
    * state is O(rate · (maxGap + lateness)), never O(stream).
    * Works on batch frames too (plain interval join, same rows).
    */
  def viewPurchaseJoin(views: Dataset[Event], purchases: Dataset[Event],
                       maxGap: String = "1 hour",
                       watermarkDelay: String = "10 minutes"): DataFrame = {
    val streaming = views.isStreaming
    val v0 = views.toDF("v_user", "view_id", "v_ts")
    val p0 = purchases.toDF("p_user", "purchase_id", "p_ts")
    val v = if (streaming) v0.withWatermark("v_ts", watermarkDelay) else v0
    val p = if (streaming) p0.withWatermark("p_ts", watermarkDelay) else p0
    v.join(p,
        col("v_user") === col("p_user") &&
          col("v_ts") <= col("p_ts") &&
          col("v_ts") >= col("p_ts") - expr(s"INTERVAL $maxGap"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("view_id"),
        (unix_millis(col("p_ts")) - unix_millis(col("v_ts"))).as("gap_ms"))
  }

  case class ValEvent(user_id: Long, event_id: Long, ts: Timestamp, value: Double)
  case class RunState(pending: List[(Long, Long, Double)], tail: List[Double],
                      lastTs: Long)
  case class RunOut(user_id: Long, event_id: Long, ts_ms: Long, mov_avg: Double)

  /** Watermark-ordered trailing moving average (streaming
    * q22_moving_avg). Running metrics are ORDER-SENSITIVE and a stream
    * delivers rows out of order within the allowed lateness — so each
    * key's rows are BUFFERED until the watermark passes their event
    * time, then emitted in (ts, event_id) order carrying the average
    * of the trailing `window` values. Emission is deterministic w.r.t.
    * the data (replays emit identical rows), the same contract as
    * [[sessionize]]'s event-time timeout.
    *
    * State per key = the not-yet-emittable buffer (bounded by
    * rate × lateness — the watermark constantly drains it) plus
    * `window−1` trailing values; a key idle past `evictAfterMs` of
    * event time is evicted. Batch mode emits everything in order (the
    * exact q22 semantics, minus q22's null-value handling — this typed
    * twin takes non-null doubles).
    */
  def runningAvg(events: Dataset[ValEvent], window: Int = 4,
                 watermarkDelay: String = "10 minutes",
                 evictAfterMs: Long = 3600 * 1000L): Dataset[RunOut] = {
    require(window >= 1, s"window must be >= 1, got $window")
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val src = if (streaming) events.withWatermark("ts", watermarkDelay) else events

    def fround4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0

    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[RunState, RunOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[ValEvent], state: GroupState[RunState]) =>
          val prev = state.getOption.getOrElse(RunState(Nil, Nil, Long.MinValue))
          val pending = (prev.pending ++ rows.map(e =>
              (e.ts.getTime, e.event_id, e.value))).sortBy(p => (p._1, p._2))
          // batch mode has no watermark — everything is emittable.
          // STRICTLY below the watermark: Spark's late-data filter only
          // drops rows strictly older than the watermark, so a row at
          // exactly the watermark can still arrive in a later batch —
          // emitting its (ts, event_id) position now could put an
          // already-emitted larger event_id ahead of it. Boundary rows
          // wait one batch; emission stays deterministic under replay.
          val emitTs = if (streaming) state.getCurrentWatermarkMs() else Long.MaxValue
          val (ready, rest) = pending.partition(_._1 < emitTs)
          var tail = prev.tail // most-recent-first trailing values
          val out = ready.map { case (tsMs, id, v) =>
            val frame = v :: tail.take(window - 1)
            tail = (v :: tail).take(window - 1)
            RunOut(user, id, tsMs, fround4(frame.sum / frame.length))
          }
          val lastTs = if (ready.nonEmpty) ready.last._1 else prev.lastTs
          // the trailing tail must SURVIVE a buffer drain — a key is
          // evicted only once the watermark is evictAfterMs of event
          // time past its last emitted row, so an on-time event after
          // a quiet spell still averages against its true predecessors
          val idle = rest.isEmpty &&
            lastTs != Long.MinValue && emitTs >= lastTs + evictAfterMs
          if (state.hasTimedOut && idle) state.remove()
          else {
            state.update(RunState(rest, tail, lastTs))
            // un-emitted rows flush as soon as the watermark passes
            // them; drained keys time out at their eviction deadline
            if (streaming) state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1,
                if (rest.nonEmpty) rest.head._1
                else if (lastTs != Long.MinValue) lastTs + evictAfterMs
                else emitTs + evictAfterMs))
          }
          out.iterator
      }
  }

  /** Gap-based sessionization with explicit state (streaming
    * q12_sessionize): a session closes `gapMs` of EVENT TIME after its
    * last event — the timeout is the watermark passing session end +
    * gap, so emission is deterministic w.r.t. the data, not the
    * wall clock, and replays produce identical sessions. State is
    * bounded by the watermark (`watermarkDelay` of allowed lateness).
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
                 watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val src = if (streaming) events.withWatermark("ts", watermarkDelay) else events
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, s.start, s.end, s.n))
          } else {
            val sorted = rows.map(_.ts.getTime).toSeq.sorted
            var out = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { t =>
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  // max/min guards: a late (out-of-order) event must not
                  // rewind the session span
                  cur = Some(s.copy(start = math.min(s.start, t),
                    end = math.max(s.end, t), n = s.n + 1))
                case Some(s) =>
                  out ::= SessionOut(user, s.start, s.end, s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach(state.update)
            // fire when the watermark passes end + gap; clamp to just
            // past the current watermark for groups fed only by late
            // events (a timeout in the past is rejected by Spark)
            if (streaming) cur.foreach { s =>
              state.setTimeoutTimestamp(
                math.max(s.end + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            out.reverseIterator
          }
      }
  }

  case class RateEvent(event_type: String, ts: Timestamp)
  case class RateState(pending: Map[Long, Long], hist: List[Long], lastMin: Long)
  case class RateOut(grp: String, minute_ms: Long, cnt: Long,
                     z: Option[Double], anomaly: Long)

  /** Streaming rate-anomaly detection (streaming q32_rate_anomaly):
    * per-minute event counts per group, z-scored against the trailing
    * `windowRows` EMITTED minutes — the spike/drop monitor running on
    * the live stream instead of the rollup table.
    *
    * A minute bucket [m, m+60s) SEALS once the watermark reaches
    * m+60s: every row of the bucket has ts < m+60s, and Spark's late
    * filter drops rows strictly older than the watermark, so no
    * further arrival can change the count — emission is deterministic
    * under replay (the [[runningAvg]] contract). Sealed minutes emit
    * in minute order, so the trailing history SEEN by each z-score is
    * exactly the batch form's `rowsBetween(-windowRows, -1)` over the
    * minute rollup: minutes with no events are skipped in both.
    * z replicates `Enrich.rateAnomaly`'s integer-sum expression
    * bit-for-bit (exact Long sums, one double expression, 4dp
    * floor-round), so batch↔stream parity is cell-exact FOR GROUPS
    * WHOSE IDLE GAPS STAY UNDER `evictAfterMs`: eviction is the state
    * bound (the batch form keeps all history; a stream cannot), and a
    * group quiet past the horizon restarts COLD — its next minutes
    * z-score as cold-start NULLs until the trailing window refills,
    * where batch would score them against the pre-gap baseline. Size
    * `evictAfterMs` above the longest outage you want to alarm on.
    *
    * State per group = unsealed minute counts (bounded by lateness:
    * the watermark constantly seals) + `windowRows` trailing Longs;
    * groups idle past `evictAfterMs` of event time are evicted.
    * Works on batch datasets too (no watermark — everything seals,
    * the exact q32 semantics).
    */
  def rateAnomalyStream(events: Dataset[RateEvent], windowRows: Int = 20,
                        minPoints: Int = 5, zThreshold: Double = 3.0,
                        watermarkDelay: String = "10 minutes",
                        evictAfterMs: Long = 3600 * 1000L): Dataset[RateOut] = {
    require(windowRows >= 2 && minPoints >= 2,
      s"windowRows/minPoints must each be >= 2, got $windowRows/$minPoints")
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val src = if (streaming) events.withWatermark("ts", watermarkDelay) else events
    src.groupByKey(_.event_type)
      .flatMapGroupsWithState[RateState, RateOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (grp: String, rows: Iterator[RateEvent], state: GroupState[RateState]) =>
          val prev = state.getOption.getOrElse(RateState(Map.empty, Nil, Long.MinValue))
          val pending = rows.foldLeft(prev.pending) { (m, e) =>
            val k = math.floorDiv(e.ts.getTime, 60000L) * 60000L
            m + (k -> (m.getOrElse(k, 0L) + 1L))
          }
          val wm = if (streaming) state.getCurrentWatermarkMs() else Long.MaxValue
          val (ripe0, rest) = pending.partition { case (m, _) => m + 60000L <= wm }
          val ripe = ripe0.toList.sortBy(_._1)
          var hist = prev.hist // most-recent-first emitted counts
          val out = ripe.map { case (m, cnt) =>
            val frame = hist.take(windowRows)
            val n = frame.length
            val zOpt =
              if (n >= minPoints) {
                // one double expression over exact integer sums — the
                // batch varExpr/zExpr tree, identically associated
                val s = frame.sum.toDouble
                val s2 = frame.map(c => c * c).sum.toDouble
                val vr = (s2 - s * s / n) / (n - 1).toDouble
                if (vr > 0.0)
                  Some(math.floor((cnt.toDouble - s / n) / math.sqrt(vr)
                    * 10000.0 + 0.5) / 10000.0)
                else None
              } else None
            hist = (cnt :: hist).take(windowRows)
            RateOut(grp, m, cnt, zOpt,
              if (zOpt.exists(z => math.abs(z) >= zThreshold)) 1L else 0L)
          }
          val lastMin = if (ripe.nonEmpty) ripe.last._1 else prev.lastMin
          val idle = rest.isEmpty &&
            lastMin != Long.MinValue && wm >= lastMin + evictAfterMs
          if (state.hasTimedOut && idle) state.remove()
          else {
            state.update(RateState(rest, hist, lastMin))
            if (streaming) state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1,
                if (rest.nonEmpty) rest.keys.min + 60000L
                else if (lastMin != Long.MinValue) lastMin + evictAfterMs
                else wm + evictAfterMs))
          }
          out.iterator
      }
  }

  case class TypedEvent(user_id: Long, event_id: Long, ts: Timestamp,
                        event_type: String)
  case class FunnelState(pending: List[(Long, Long, String)],
                         resolved: List[Long], done: Boolean,
                         lastMs: Long)
  case class FunnelOut(user_id: Long, stage_ts: Seq[Long])

  /** Streaming ordered funnel (streaming q28_funnel): emits one row
    * per entity the moment it COMPLETES the final stage — conversion
    * detection as the events arrive, the continuous form of
    * [[graft.ops.Funnel.stages]]' min-chaining (stage k = earliest
    * stage-k event STRICTLY after stage k−1; a completed streaming
    * funnel carries exactly the batch operator's stage timestamps, so
    * parity holds on the completed set — StreamParitySpec).
    *
    * Determinism under replay: buffered events are processed in
    * (ts, event_id) order and only once STRICTLY below the watermark
    * (a row at exactly the watermark can still arrive in a later
    * batch — the runningAvg boundary rule), so emission depends on
    * the data, never on batch boundaries. Same-ts events cannot chain
    * (strict >), so the ts-order scan reproduces the batch window
    * mins exactly.
    *
    * State per entity = resolved stage timestamps + the not-yet-
    * processable buffer (bounded by allowed lateness); a completed
    * entity keeps a tombstone (done = true) so late duplicates cannot
    * restart the funnel. Both expire `ttlMs` of EVENT TIME after the
    * entity's last activity — bounded state at any cardinality.
    */
  def funnel(events: Dataset[TypedEvent], steps: Seq[String],
             watermarkDelay: String = "10 minutes",
             ttlMs: Long = 24 * 3600 * 1000L): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct == steps, s"duplicate funnel steps: $steps")
    val stepIdx = steps.zipWithIndex.toMap
    val streaming = events.isStreaming
    val src =
      if (streaming) events.withWatermark("ts", watermarkDelay) else events
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[TypedEvent],
         state: GroupState[FunnelState]) =>
          // the body runs on timeouts too (rows is then empty): a
          // watermark advance must drain the buffer even when the
          // entity got no new events this batch (runningAvg's rule)
          val prev = state.getOption
            .getOrElse(FunnelState(Nil, Nil, done = false, Long.MinValue))
          val relevant = rows.filter(e => stepIdx.contains(e.event_type))
            .map(e => (e.ts.getTime, e.event_id, e.event_type))
          val pending = (prev.pending ++ relevant).sortBy(p => (p._1, p._2))
          val emitTs =
            if (streaming) state.getCurrentWatermarkMs() else Long.MaxValue
          val (ready, rest) = pending.partition(_._1 < emitTs)
          var resolved = prev.resolved
          var done = prev.done
          var out = List.empty[FunnelOut]
          ready.foreach { case (tsMs, _, tpe) =>
            if (!done && stepIdx(tpe) == resolved.size &&
                (resolved.isEmpty || tsMs > resolved.head)) {
              resolved ::= tsMs
              if (resolved.size == steps.size) {
                done = true
                out ::= FunnelOut(user, resolved.reverse)
              }
            }
          }
          val lastMs = (prev.lastMs :: pending.map(_._1)).max
          val expired = rest.isEmpty &&
            lastMs != Long.MinValue && emitTs >= lastMs + ttlMs
          if (state.hasTimedOut && expired) state.remove()
          else {
            state.update(FunnelState(rest, resolved, done, lastMs))
            // un-drained rows flush as soon as the watermark passes
            // them; drained entities expire ttlMs after last activity
            if (streaming) state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1,
                if (rest.nonEmpty) rest.head._1
                else if (lastMs != Long.MinValue) lastMs + ttlMs
                else emitTs + ttlMs))
          }
          out.reverseIterator
      }
  }

  /** Lists `dir`'s `batch_id=<n>` children with n < `batchId`, as
    * (n, path) sorted by n. Suffixes that are not a plain long —
    * manual debris like `batch_id=3.bak`, a half-cleaned temp rename —
    * are SKIPPED, not thrown on: a throw inside foreachBatch re-fires
    * on every retry and permanently wedges the stream on state the
    * stream itself never wrote.
    */
  private def priorBatchDirs(spark: SparkSession, dir: String,
                             batchId: Long): Seq[(Long, String)] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath)
      .flatMap { p =>
        if (p.getName.startsWith("batch_id="))
          p.getName.stripPrefix("batch_id=").toLongOption
            .map(n => (n, p.toString))
        else None
      }
      .filter(_._1 < batchId).sortBy(_._1)
  }

  /** Deletes `batch_id=<n>` snapshot dirs with n < `batchId` − 1,
    * called AFTER batch `batchId`'s own write succeeds. Snapshot-
    * REPLACE sinks (g4's labeling, q36's rollup state) write a full
    * snapshot per micro-batch; without pruning, storage grows
    * O(batches × state) and the per-batch dir listing degrades with
    * stream age. Keeping the PARENT (`batchId` − 1) preserves the
    * retry-idempotence contract: a retried batch N re-reads exactly
    * the parent it merged the first time. Non-`batch_id=<long>`
    * debris is never touched (the listing skips it — not ours to
    * delete). Append-only-index sinks (d14, d16) must NOT prune:
    * their state IS the union of all batch extensions.
    *
    * BEST-EFFORT: runs after the batch's state write has already
    * committed, and correctness never depends on a prune succeeding
    * (an unpruned grandparent is dead weight, not wrong state — the
    * next batch's prune retries it). A transient filesystem error
    * here must therefore NOT fail the otherwise-committed batch and
    * force a replay; failures are logged and swallowed.
    */
  private def pruneSnapshots(spark: SparkSession, dir: String,
                             batchId: Long): Unit =
    priorBatchDirs(spark, dir, batchId - 1).foreach { case (_, p) =>
      try {
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(path, true)
      } catch {
        case e: Exception =>
          System.err.println(s"[graft] snapshot prune of $p failed " +
            s"(will retry next batch): ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }

  /** Streaming driver for the d14 incremental-dedup chain — the batch
    * operator ([[graft.ops.Dedup.incrementalDedup]]) made continuous:
    * each micro-batch of documents is verdicted against the
    * ACCUMULATED fingerprint index maintained across batches, exactly
    * the daily-crawl arrival the incremental family models (VERDICT
    * r07 #6: the family was only ever exercised as a static split).
    *
    * Per batch: read the index partitions written by STRICTLY EARLIER
    * batches, verdict the batch via the batch operator with
    * `indexIsFingerprints = true` (so history is never re-hashed, per-
    * batch cost O(delta) + one join), then append the batch's verdicts
    * and its `new`-fingerprint index extension under `batch_id=<id>`
    * subdirectories. Idempotence under foreachBatch's retry contract:
    * a re-run of batch N overwrites ONLY its own `batch_id=N` outputs
    * and reads only ids < N — a half-written previous attempt can
    * neither double-extend the index nor feed itself.
    *
    * Returns the configured `DataStreamWriter`; the caller sets the
    * checkpoint location and trigger, and restart-from-checkpoint
    * resumes with the index exactly as the completed batches left it
    * (proven by StreamParitySpec's restart test).
    */
  /** Streaming driver for the d16 chain — [[incrementalDedupSink]]'s
    * NEAR-dup sibling: each micro-batch is verdicted against the
    * accumulated MinHash index (the prepared (id, hs) + (id, n, band)
    * tables written by prior batches — history is never re-shingled
    * or re-banded; per-batch cost is O(delta) prep + the band joins),
    * then the batch's OWN prep tables extend the index. ALL batch
    * docs index (a near-dup verdict is direct-evidence, not
    * transitive: doc C may near-match dup B without matching B's
    * canonical A, so dropping dups from the index would lose recall).
    * Same `batch_id=<id>` idempotence contract as the exact sink.
    */
  def neardupIncrementalSink(docs: DataFrame, textCol: String, idCol: String,
                             indexDir: String, verdictDir: String,
                             numPerm: Int = 128, bands: Int = 0,
                             shingleK: Int = 5,
                             jaccardThreshold: Double = 0.5)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        def prior(sub: String): Seq[String] =
          priorBatchDirs(spark, s"$indexDir/$sub", batchId).map(_._2)
        val (ph, pb) = (prior("hashes"), prior("bands"))
        // empty-index schemas derive from a zero-row prep of the batch
        // itself, so id/hash types always match the caller's; the
        // index reads pass them too, so no micro-batch runs a schema-
        // inference job
        val (h0, b0) = graft.ops.Dedup.minhashPrepare(batch.limit(0),
          textCol, idCol, numPerm, bands, shingleK, jaccardThreshold)
        val hIdx = if (ph.isEmpty) h0 else spark.read.schema(h0.schema).parquet(ph: _*)
        val bIdx = if (pb.isEmpty) b0 else spark.read.schema(b0.schema).parquet(pb: _*)
        val verdicts = graft.ops.Dedup.minhashIncrementalPrepared(hIdx, bIdx,
            batch, textCol, idCol, numPerm, bands, shingleK, jaccardThreshold)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          verdicts.write.mode("overwrite")
            .parquet(s"$verdictDir/batch_id=$batchId")
          val (bh, bb) = graft.ops.Dedup.minhashPrepare(batch, textCol, idCol,
            numPerm, bands, shingleK, jaccardThreshold)
          bh.write.mode("overwrite").parquet(s"$indexDir/hashes/batch_id=$batchId")
          bb.write.mode("overwrite").parquet(s"$indexDir/bands/batch_id=$batchId")
        } finally verdicts.unpersist()
    }

  /** Streaming driver for the g4 chain — [[incrementalDedupSink]]'s
    * GRAPH sibling: each micro-batch of near-dup EDGES merges into the
    * accumulated component labeling via
    * `Graph.incrementalComponents` (contracted-delta merge: the
    * iterative part sees only the batch's edges; the base labeling is
    * touched once, linearly). Unlike the dedup sinks' append-only
    * index, CC state is a LABELING the merge REPLACES: batch N reads
    * the single snapshot written by the LATEST batch < N (not a union
    * of all priors) and writes the merged labeling under
    * `batch_id=N` — so a retried batch N re-reads the same parent
    * snapshot and overwrites only its own output (the foreachBatch
    * idempotence contract), and restart-from-checkpoint resumes with
    * the labeling exactly as the completed batches left it. The first
    * batch bootstraps from the empty labeling (incremental merge into
    * nothing IS from-scratch CC over the batch). Per-batch output is
    * the full (id, comp) snapshot — the operator's own contract; at
    * corpus scale a caller would partition the labeling and rewrite
    * only components the relabel join touched. Snapshots older than
    * the parent are deleted after each successful write
    * ([[pruneSnapshots]] — state stays O(2 snapshots), not
    * O(batches)).
    */
  def componentsIncrementalSink(edges: DataFrame, srcCol: String,
                                dstCol: String, labelDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    edges.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val parent =
          priorBatchDirs(spark, labelDir, batchId).lastOption.map(_._2)
        val labels = parent match {
          case Some(p) => Sources.readParquet(spark, p)
          case None => spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("comp",
                org.apache.spark.sql.types.LongType))))
        }
        graft.ops.Graph.incrementalComponents(labels, "id", "comp",
            batch, srcCol, dstCol)
          .write.mode("overwrite").parquet(s"$labelDir/batch_id=$batchId")
        // grandparent snapshots are dead state once this write lands
        // (see pruneSnapshots — the parent stays for retry idempotence)
        pruneSnapshots(spark, labelDir, batchId)
    }

  def incrementalDedupSink(docs: DataFrame, textCol: String, idCol: String,
                           indexDir: String, verdictDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val prior = priorBatchDirs(spark, indexDir, batchId).map(_._2)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("fingerprint",
            org.apache.spark.sql.types.StringType)))
        val index =
          if (prior.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          else spark.read.schema(schema).parquet(prior: _*)
        val verdicts = graft.ops.Dedup.incrementalDedup(index, batch,
            textCol, idCol, indexIsFingerprints = true)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          verdicts.write.mode("overwrite")
            .parquet(s"$verdictDir/batch_id=$batchId")
          verdicts.where(col("verdict") === "new").select("fingerprint")
            .write.mode("overwrite").parquet(s"$indexDir/batch_id=$batchId")
        } finally verdicts.unpersist()
    }

  /** Streaming driver for the q36 chain — incremental ROLLUP VIEW
    * MAINTENANCE as a sink: each micro-batch of raw events rolls up
    * into MERGEABLE state ([[graft.ops.Enrich.hourlyRollupState]]:
    * count + exact-decimal sum, no derived ratios) and merges into the
    * accumulated state table by plain addition — correct because
    * merge(rollup(A), rollup(B)) == rollup(A ∪ B) bit-for-bit on
    * mergeable state, which is exactly what q36's batch oracle proves.
    * Serving columns (avg, rounded sum) derive AT READ TIME from the
    * snapshot via [[graft.ops.Enrich.mergeRollups]]; storing them
    * would break mergeability.
    *
    * State is a SNAPSHOT the merge REPLACES (the g4-sink shape, not
    * the dedup sinks' append-only union): batch N reads the single
    * snapshot written by the latest batch < N, merges its delta, and
    * writes the full state under `batch_id=N` — so a retried batch N
    * re-reads the same parent and overwrites only its own output (the
    * foreachBatch idempotence contract), and restart-from-checkpoint
    * resumes with the state exactly as the completed batches left it.
    * 100 TB shape: per batch O(delta) + one partial-agg shuffle onto
    * the BOUNDED (event_type, hour) grid — history is never rescanned
    * (the full-recompute alternative rereads the corpus per batch).
    * The stored sum is pinned to decimal(38,6) so every snapshot
    * carries one schema regardless of Spark's sum-widening ladder.
    * After each successful write, snapshots OLDER than the parent are
    * deleted ([[pruneSnapshots]]) — without it, a long-running stream
    * accumulates O(batches × state) dead snapshots and the per-batch
    * dir listing degrades with stream age.
    */
  /** Streaming QUALITY GATE — the production shape of the t36
    * classifier: the model is FIT OFFLINE ([[graft.ops.Curation
    * .nbFitModel]], persisted as parquet at `modelPath`) and each
    * micro-batch of arriving documents is scored against it
    * ([[graft.ops.Curation.nbScoreWithModel]] — bit-identical to the
    * batch operator on the same model). Per batch the cost is the
    * batch's OWN map-only feature pass + one broadcast join against
    * the fixed ≤ buckets+1-row model: no history rescans, no refit in
    * the ingest path, so the gate keeps up with arrival rate at any
    * corpus size. STATELESS across batches (unlike the index/snapshot
    * sinks): idempotence is just "batch N overwrites only
    * `batch_id=N`", and restart-from-checkpoint needs no state
    * recovery at all. Retraining is a deliberate OFFLINE act — write
    * a new model table and the next batch picks it up (the model is
    * re-read per batch precisely so a hot-swap needs no stream
    * restart).
    */
  /** DRIFT MONITOR extension (round 11, VERDICT r10 #5): when
    * `refHistPath`/`monitorDir` are set, each batch ALSO writes one
    * monitor row next to its verdicts — the arriving docs' hashed-
    * token JS divergence against a persisted TRAINING-REFERENCE
    * histogram ([[graft.ops.TextAnalysis.tokenHistogram]], fit
    * offline beside the model) plus the batch's accept rate. A static
    * gate scores forever against a frozen model; this is the number a
    * dashboard thresholds to notice the arriving distribution has
    * LEFT the training distribution before the gate's verdicts rot
    * silently. Per batch: one extra explode over the batch + a
    * ≤ `driftBuckets`-row join — fixed-size beyond the batch scan,
    * stateless, same `batch_id=N`-overwrite idempotence as the
    * verdicts. The monitor records evidence; ALARMING on it is the
    * consumer's thresholding decision, not a mechanism here.
    * `accept_rate` counts pred=1 over SCORED docs (zero-token docs
    * receive no verdict — the t36 contract), NULL when none scored.
    */
  def qualityGateSink(docs: DataFrame, textCol: String, idCol: String,
                      modelPath: String, verdictDir: String,
                      buckets: Int = 8192, alpha: Double = 0.5,
                      threshold: Double = 0.0,
                      refHistPath: String = "", monitorDir: String = "",
                      driftBuckets: Int = 4096)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(refHistPath.isEmpty == monitorDir.isEmpty,
      "qualityGateSink: refHistPath and monitorDir must be set together")
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val model = Sources.readParquet(spark, modelPath)
        val verdicts = graft.ops.Curation.nbScoreWithModel(batch.toDF(),
          textCol, idCol, model, buckets, alpha, threshold)
        if (monitorDir.isEmpty) {
          verdicts.write.mode("overwrite")
            .parquet(s"$verdictDir/batch_id=$batchId")
        } else {
          val v = verdicts
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            v.write.mode("overwrite").parquet(s"$verdictDir/batch_id=$batchId")
            val accept = v.agg(
              count(lit(1)).as("n_scored"),
              sum(when(col("pred") === 1, 1L).otherwise(0L)).as("n_pass"))
              .select(col("n_scored"), col("n_pass"),
                when(col("n_scored") > 0, graft.functions.num.fround(
                  col("n_pass").cast("double") / col("n_scored").cast("double"),
                  4)).as("accept_rate"))
            val drift = graft.ops.TextAnalysis.driftAgainstHistogram(
              batch.toDF(), textCol, Sources.readParquet(spark, refHistPath),
              driftBuckets, alpha)
            // batch_id arrives as the partition dir on read-back —
            // storing it as a column too would collide with partition
            // inference
            accept.crossJoin(drift)
              .write.mode("overwrite").parquet(s"$monitorDir/batch_id=$batchId")
          } finally v.unpersist()
        }
    }
  }

  /** Streaming TOKEN-COST monitor (st14) — st13's drift-monitor twin
    * for the TOKENIZER, and the consumer of the persisted-tokenizer
    * split: the vocabulary is FIT OFFLINE ([[graft.ops.TextAnalysis
    * .unigramFitModel]], persisted as parquet at `modelPath`) and each
    * micro-batch of arriving documents is priced under it
    * ([[graft.ops.TextAnalysis.unigramSegmentWithModel]] —
    * bit-identical to the batch operator on the same model, with the
    * fit-config markers guarding mismatched apply knobs). Per batch:
    * per-doc cost rows to `costDir/batch_id=N` (zero-token docs
    * produce no row — the t24 contract) plus ONE monitor row to
    * `monitorDir/batch_id=N` — n_docs, n_words, n_pieces,
    * n_unk_words, unk_rate, pieces_per_word under the PERSISTED
    * vocabulary. UNK rate is the tokenizer's drift alarm: a
    * vocabulary-shifted batch (new language/domain, crawler breakage,
    * encoding rot) surfaces as a rising share of words the trained
    * model cannot cover — BEFORE a downstream training job chokes on
    * it — exactly the role st13's JS divergence plays for the quality
    * gate. The monitor records evidence; alarming is the consumer's
    * thresholding decision.
    *
    * STATELESS across batches (the gate-sink contract): batch N
    * overwrites only its own `batch_id=N` dirs (retry idempotence),
    * restart-from-checkpoint needs no state recovery, and a RETRAINED
    * vocabulary is a hot-swap — the model is re-read per batch, so a
    * new table at `modelPath` takes effect without a stream restart.
    * Per-batch cost is the batch's own map-only passes + one
    * broadcast join against the bounded (≤ alphabet + seedSize + 2
    * rows) model — history is never rescanned, the model never refit
    * in the ingest path.
    */
  def tokenCostMonitorSink(docs: DataFrame, textCol: String, idCol: String,
                           modelPath: String, costDir: String,
                           monitorDir: String,
                           maxPieceLen: Int = 4, maxWordLen: Int = 16)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val model = Sources.readParquet(spark, modelPath)
        val costs = graft.ops.TextAnalysis.unigramSegmentWithModel(
            batch.toDF(), textCol, idCol, model, maxPieceLen, maxWordLen)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          costs.write.mode("overwrite").parquet(s"$costDir/batch_id=$batchId")
          costs.agg(
              count(lit(1)).as("n_docs"),
              coalesce(sum("n_words"), lit(0L)).as("n_words"),
              coalesce(sum("n_pieces"), lit(0L)).as("n_pieces"),
              coalesce(sum("n_unk_words"), lit(0L)).as("n_unk_words"))
            .select(col("n_docs"), col("n_words"), col("n_pieces"),
              col("n_unk_words"),
              when(col("n_words") > 0, graft.functions.num.fround(
                col("n_unk_words").cast("double")
                  / col("n_words").cast("double"), 4)).as("unk_rate"),
              when(col("n_words") - col("n_unk_words") > 0,
                graft.functions.num.fround(col("n_pieces").cast("double")
                  / (col("n_words") - col("n_unk_words")).cast("double"), 4))
                .as("pieces_per_word"))
            .write.mode("overwrite").parquet(s"$monitorDir/batch_id=$batchId")
        } finally costs.unpersist()
    }

  /** Streaming ANN-INDEX INGEST (st15) — s16's foreachBatch twin, the
    * d16-sink shape for the similarity family: the IVF centroids are
    * FIT OFFLINE ([[graft.ops.Similarity.ivfIndexTables]], persisted
    * as parquet at `centroidPath`) and each micro-batch of arriving
    * vectors assigns to the FROZEN centroids
    * ([[graft.ops.Similarity.ivfAppendDelta]] — bit-identical to the
    * batch operator on the same table by construction: frozen-centroid
    * assignment is a pure per-row function). Per batch: assignment
    * rows (id, cluster_id, cos, stale) to `assignDir/batch_id=N` —
    * the accumulated union of all batch dirs IS the merged index an
    * IVF query probes — plus ONE monitor row to
    * `monitorDir/batch_id=N` (n_vecs, n_stale, stale_frac). The stale
    * fraction is the index's DRIFT alarm: under no drift it hovers
    * near 0.05 by construction (the train-p05 calibration,
    * [[graft.ops.Similarity.ivfIndexTables]]); a sustained rise means
    * arriving vectors no longer resemble the fit corpus and the
    * centroids need a re-fit. The monitor records evidence; alarming
    * (and scheduling the re-fit) is the consumer's decision.
    *
    * STATELESS across batches (the st14 contract): batch N overwrites
    * only its own `batch_id=N` dirs (retry idempotence — a replayed
    * batch can neither double-extend the index nor feed itself),
    * restart-from-checkpoint needs no state recovery, and a RE-FIT
    * centroid table is a hot-swap — the table is re-read per batch,
    * so a new fit at `centroidPath` takes effect without a stream
    * restart (assignments before the swap stay valid reads of the old
    * epoch; a full re-index is the consumer's migration, not the
    * sink's). Append-only like d14/d16 — never pruned: the index IS
    * the union of all batch extensions. Per-batch cost is ONE
    * map-only pass over the batch against the k-row centroid table —
    * history untouched, centroids never re-fit in the ingest path.
    */
  def ivfIngestSink(vecs: DataFrame, vecCol: String, idCol: String,
                    centroidPath: String, assignDir: String,
                    monitorDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val cents = Sources.readParquet(spark, centroidPath)
        val assigned = graft.ops.Similarity.ivfAppendDelta(
            cents, batch.toDF(), vecCol, idCol)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          assigned.write.mode("overwrite")
            .parquet(s"$assignDir/batch_id=$batchId")
          assigned.agg(
              count(lit(1)).as("n_vecs"),
              coalesce(sum(col("stale").cast("long")), lit(0L)).as("n_stale"))
            .select(col("n_vecs"), col("n_stale"),
              when(col("n_vecs") > 0, graft.functions.num.fround(
                col("n_stale").cast("double") / col("n_vecs").cast("double"), 4))
                .as("stale_frac"))
            .write.mode("overwrite").parquet(s"$monitorDir/batch_id=$batchId")
        } finally assigned.unpersist()
    }

  /** Streaming SEMANTIC-DEDUP ingest (st16) — d24's foreachBatch
    * twin, completing the ingest trio: st9 verdicts near-dups by
    * TEXT (MinHash), st15 maintains the ANN index, this verdicts
    * near-dups by GEOMETRY against the accumulated cluster-indexed
    * corpus. Centroids are FIT OFFLINE
    * ([[graft.ops.Similarity.ivfIndexTables]], parquet at
    * `centroidPath` — re-read per batch, so a re-fit hot-swaps); each
    * micro-batch is verdicted by
    * [[graft.ops.Cluster.semDedupIncremental]] against the index
    * partitions written by STRICTLY EARLIER batches (the delta pays
    * the multi-probe; history rides as its one persisted home row per
    * point — never re-exploded, never re-paired), then the batch's
    * OWN home-assigned (id, vector, cluster_id) rows extend the index
    * under `batch_id=N`. ALL batch vectors index (the d16 rule: a
    * near-dup verdict is direct evidence, not transitive — dropping
    * dups from the index would lose recall). Append-only, never
    * pruned; retry-idempotent (batch N overwrites only its own dirs,
    * reads only ids < N); restart-from-checkpoint resumes with the
    * index exactly as completed batches left it. Per-batch cost:
    * O(batch) assignment + the cluster equi-join — history is touched
    * only through the pruned-column index read.
    */
  def semDedupIngestSink(vecs: DataFrame, vecCol: String, idCol: String,
                         centroidPath: String, indexDir: String,
                         verdictDir: String, threshold: Double,
                         blockProbes: Int = 2)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val cents = Sources.readParquet(spark, centroidPath)
        // the batch's index extension: home-cluster rows in the d24
        // index shape (also supplies the empty-index schema on batch 0)
        val ext = batch.toDF().select(col(idCol), col(vecCol))
          .join(graft.ops.Similarity.ivfAppendDelta(
              cents, batch.toDF(), vecCol, idCol)
            .select(col("id").as(idCol), col("cluster_id")), Seq(idCol))
        val prior = priorBatchDirs(spark, indexDir, batchId).map(_._2)
        val idx =
          if (prior.isEmpty) ext.limit(0)
          else spark.read.schema(ext.schema).parquet(prior: _*)
        graft.ops.Cluster.semDedupIncremental(cents, idx, batch.toDF(),
            vecCol, idCol, threshold, blockProbes)
          .write.mode("overwrite").parquet(s"$verdictDir/batch_id=$batchId")
        ext.write.mode("overwrite").parquet(s"$indexDir/batch_id=$batchId")
    }

  def rollupMergeSink(events: DataFrame, tsCol: String, typeCol: String,
                      valCol: String, stateDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val parent =
          priorBatchDirs(spark, stateDir, batchId).lastOption.map(_._2)
        val delta = graft.ops.Enrich.hourlyRollupState(batch.toDF(),
          tsCol, typeCol, valCol)
        val merged = parent match {
          case Some(p) => Sources.readParquet(spark, p).unionByName(
              delta.select(col("event_type"), col("hb_ms"), col("n"),
                col("sum_value").cast("decimal(38,6)").as("sum_value")))
            .groupBy("event_type", "hb_ms")
            .agg(sum(col("n")).as("n"), sum(col("sum_value")).as("sum_value"))
          case None => delta
        }
        merged.select(col("event_type"), col("hb_ms"),
            col("n").cast("long").as("n"),
            col("sum_value").cast("decimal(38,6)").as("sum_value"))
          .write.mode("overwrite").parquet(s"$stateDir/batch_id=$batchId")
        // grandparent snapshots are dead state once this write lands
        // (see pruneSnapshots — the parent stays for retry idempotence)
        pruneSnapshots(spark, stateDir, batchId)
    }
}
