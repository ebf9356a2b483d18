package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStream
import graft.streaming.EventStream.{Event, RunOut, SessionOut, ValEvent}

/** Systematic batch↔streaming parity: each of the five streaming twins
  * must emit EXACTLY its batch analog's rows when the same data is
  * replayed through a memory stream in multiple batches with late /
  * out-of-order delivery (inside the allowed lateness). This is the
  * twins' core contract — the streaming form is the batch operator
  * made continuous, not a different operator — and it holds only
  * because emission is driven by the event-time watermark, never by
  * arrival order.
  */
class StreamParitySpec extends AnyFunSuite {
  import SparkHarness._
  import spark.implicits._

  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  private val t0 = 1700000000000L
  private def ts(ms: Long) = new Timestamp(ms)

  test("parity: hourlyRollup — streamed late/out-of-order rows equal the batch rollup") {
    // three real hours of (event_type, value), delivered out of order;
    // 'zz_flush' sits hours ahead only to drive the watermark past the
    // real windows (append mode emits a window once the watermark
    // passes it) and is excluded from BOTH sides of the compare
    val rows = Seq(
      ("a", 1.0, t0), ("a", 3.0, t0 + 60000), ("b", 2.0, t0 + 120000),
      ("a", 5.0, t0 + 3600000), ("b", 4.0, t0 + 3660000),
      ("b", 6.0, t0 + 2 * 3600000))
    val batchDf = rows.map { case (et, v, ms) => (ts(ms), et, v) }
      .toDF("ts", "event_type", "value")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_type") =!= "zz_flush")
        .select(col("window.start").cast("long"), col("event_type"), col("n"),
          col("avg_value"))
        .collect().map(_.toSeq).toSet
    val batch = norm(EventStream.hourlyRollup(batchDf))

    val ms = MemoryStream[(Timestamp, String, Double)]
    val q = EventStream.hourlyRollup(
        ms.toDS().toDF("ts", "event_type", "value"), watermark = "30 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("par_rollup").start()
    try {
      ms.addData((ts(t0 + 60000), "a", 3.0), (ts(t0 + 3600000), "a", 5.0))
      q.processAllAvailable()
      // late, out-of-order, inside the 30 min lateness
      ms.addData((ts(t0), "a", 1.0), (ts(t0 + 120000), "b", 2.0))
      q.processAllAvailable()
      ms.addData((ts(t0 + 3660000), "b", 4.0), (ts(t0 + 2 * 3600000), "b", 6.0))
      q.processAllAvailable()
      ms.addData((ts(t0 + 9 * 3600000), "zz_flush", 0.0))
      q.processAllAvailable()
      val streamed = norm(spark.table("par_rollup"))
      assert(streamed == batch, s"streamed $streamed != batch $batch")
    } finally q.stop()
  }

  test("parity: dedupKeyed — streamed duplicates across batches equal batch dropDuplicates") {
    // exact duplicate rows (same key ⇒ identical payload), so "keep
    // the first" is the same row in both modes; dups arrive in LATER
    // batches and out of order
    val evs = Seq(
      Event(1, 10, ts(t0)), Event(2, 20, ts(t0 + 1000)),
      Event(3, 30, ts(t0 + 2000)), Event(4, 40, ts(t0 + 3000)))
    val batch = EventStream.dedupKeyed(evs.toDS().toDF(), Seq("event_id"), "ts")
      .collect().map(_.toSeq).toSet

    val ms = MemoryStream[Event]
    val q = EventStream.dedupKeyed(ms.toDS().toDF(), Seq("event_id"), "ts")
      .writeStream.outputMode("append").format("memory")
      .queryName("par_dedup").start()
    try {
      ms.addData(evs(1), evs(0))                    // out of order
      q.processAllAvailable()
      ms.addData(evs(0), evs(2), evs(1))            // dups of batch-1 rows
      q.processAllAvailable()
      ms.addData(evs(3), evs(2), evs(0))
      q.processAllAvailable()
      val streamed = spark.table("par_dedup").collect().map(_.toSeq).toSet
      assert(streamed == batch, s"streamed $streamed != batch $batch")
    } finally q.stop()
  }

  test("parity: sessionize — streamed gap sessions equal the batch sessions") {
    // every REAL session is closed by a later same-user event (the
    // trailing opener never closes in either mode: batch discards open
    // state, streaming's timeout stays beyond the final watermark), so
    // emitted rows must match exactly. The t0+30s event is delivered
    // LATE (after t0+60s) and must merge identically.
    // the two closing events sit 60 s apart so the FINAL watermark
    // (max ts − 5 min) stays below both trailing sessions' end + gap —
    // no trailing-session timeout fires to break parity with batch
    val evs = Seq(
      Event(1, 1, ts(t0)), Event(1, 2, ts(t0 + 60000)), Event(1, 3, ts(t0 + 30000)),
      Event(1, 4, ts(t0 + 2 * 3600000)),     // gap: closes session 1
      Event(2, 10, ts(t0 + 1000)), Event(2, 11, ts(t0 + 300000)),
      Event(2, 12, ts(t0 + 2 * 3600000 + 60000)))  // gap: closes user 2's session
    val batch = EventStream.sessionize(evs.toDS()).collect().toSet

    val ms = MemoryStream[Event]
    val q = EventStream.sessionize(ms.toDS(), watermarkDelay = "5 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("par_sess").start()
    try {
      ms.addData(evs(0), evs(1), evs(4))
      q.processAllAvailable()
      ms.addData(evs(2), evs(5))              // evs(2) late + out of order
      q.processAllAvailable()
      ms.addData(evs(3), evs(6))              // the gap events close both
      q.processAllAvailable()
      val streamed = spark.table("par_sess").as[SessionOut].collect().toSet
      assert(streamed == batch, s"streamed $streamed != batch $batch")
    } finally q.stop()
  }

  test("parity: viewPurchaseJoin — streamed interval join equals the batch join") {
    val views = Seq(
      Event(1, 100, ts(t0)), Event(1, 101, ts(t0 - 2 * 3600000)),
      Event(2, 200, ts(t0 + 30000)), Event(2, 201, ts(t0 + 90000)))
    val purchases = Seq(
      Event(1, 900, ts(t0 + 60000)), Event(2, 901, ts(t0 + 120000)))
    val batch = EventStream.viewPurchaseJoin(views.toDS(), purchases.toDS())
      .collect().map(_.toSeq).toSet

    val vs = MemoryStream[Event]
    val ps = MemoryStream[Event]
    val q = EventStream.viewPurchaseJoin(vs.toDS(), ps.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("par_vp").start()
    try {
      vs.addData(views(2), views(0))          // out of order
      ps.addData(purchases(0))
      q.processAllAvailable()
      vs.addData(views(1), views(3))          // stale view + late view
      ps.addData(purchases(1))
      q.processAllAvailable()
      val streamed = spark.table("par_vp").collect().map(_.toSeq).toSet
      assert(streamed == batch, s"streamed $streamed != batch $batch")
    } finally q.stop()
  }

  test("parity: runningAvg — streamed watermark-ordered emission equals the batch averages") {
    // user 9 exists only to push the watermark past every real row; it
    // is excluded from the compare (its own row never flushes — nothing
    // advances the watermark past it)
    val evs = Seq(
      ValEvent(1, 1, ts(t0), 2.0), ValEvent(1, 2, ts(t0 + 60000), 4.0),
      ValEvent(1, 3, ts(t0 + 120000), 6.0), ValEvent(2, 10, ts(t0 + 1000), 1.0),
      ValEvent(2, 11, ts(t0 + 61000), 3.0),
      ValEvent(9, 99, ts(t0 + 3600000), 0.0))
    val batch = EventStream.runningAvg(evs.take(5).toDS()).collect().toSet

    val ms = MemoryStream[ValEvent]
    val q = EventStream.runningAvg(ms.toDS(), watermarkDelay = "2 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("par_ravg").start()
    try {
      ms.addData(evs(1), evs(3))              // out of order (evs(0) later)
      q.processAllAvailable()
      ms.addData(evs(0), evs(4))              // late row before the watermark
      q.processAllAvailable()
      ms.addData(evs(2))
      q.processAllAvailable()
      ms.addData(evs(5))                      // watermark past all real rows
      q.processAllAvailable()
      val streamed = spark.table("par_ravg").as[RunOut].collect().toSet
        .filter(_.user_id != 9)
      assert(streamed == batch, s"streamed $streamed != batch $batch")
    } finally q.stop()
  }

  test("parity: rateAnomalyStream — streamed sealed minutes equal the batch z-scores") {
    import graft.streaming.EventStream.{RateEvent, RateOut}
    import graft.ops.Enrich
    def m(i: Int) = t0 + i * 60000L
    // per-minute counts: a = [1,2,3,2,5,2] on minutes 0..5 (the 5 is
    // the planted spike), b = [2,_,_,4,1] with real GAPS (trailing
    // frames must skip missing minutes, as the batch rollup window
    // does); events spread inside each minute
    def burst(grp: String, minute: Long, n: Int): Seq[(String, Long)] =
      (0 until n).map(j => (grp, minute + 1000L * (j + 1)))
    val real = burst("a", m(0), 1) ++ burst("a", m(1), 2) ++
      burst("a", m(2), 3) ++ burst("a", m(3), 2) ++ burst("a", m(4), 5) ++
      burst("a", m(5), 2) ++
      burst("b", m(0), 2) ++ burst("b", m(3), 4) ++ burst("b", m(4), 1)
    val batchDf = real.map { case (g, t) => (ts(t), g) }.toDF("ts", "event_type")
    def normBatch = Enrich.rateAnomaly(batchDf, "ts", "event_type",
        windowRows = 4, minPoints = 3, zThreshold = 2.0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getLong(4))).toSet
    val batch = normBatch
    // the planted spike must actually trip the detector in batch truth
    assert(batch.exists { case (g, mm, _, _, a) => g == "a" && a == 1L },
      s"expected an anomaly in $batch")

    val mst = MemoryStream[RateEvent]
    val q = EventStream.rateAnomalyStream(mst.toDS(), windowRows = 4,
        minPoints = 3, zThreshold = 2.0, watermarkDelay = "2 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("par_rate").start()
    def ev(g: String, t: Long) = RateEvent(g, ts(t))
    try {
      // batch 1: minutes 0-3 delivered shuffled (one m3 row held back)
      val b1 = (burst("a", m(2), 3) ++ burst("a", m(0), 1) ++
        burst("b", m(3), 4) ++ burst("a", m(3), 1) ++ burst("a", m(1), 2) ++
        burst("b", m(0), 2)).map { case (g, t) => ev(g, t) }
      mst.addData(b1: _*)
      q.processAllAvailable()
      // batch 2: the LATE m3 straggler (inside lateness) + minutes 4-5
      mst.addData((burst("a", m(3), 2).drop(1) ++ burst("a", m(4), 5) ++
        burst("b", m(4), 1) ++ burst("a", m(5), 2))
        .map { case (g, t) => ev(g, t) }: _*)
      q.processAllAvailable()
      // flush: a far-future group drives the watermark past everything
      mst.addData(ev("zz_flush", m(100)))
      q.processAllAvailable()
      val streamed = spark.table("par_rate").as[RateOut].collect()
        .filter(_.grp != "zz_flush")
        .map(r => (r.grp, r.minute_ms, r.cnt, r.z, r.anomaly)).toSet
      assert(streamed == batch, s"streamed $streamed != batch $batch")
    } finally q.stop()
  }

  test("rateAnomalyStream: a group quiet past evictAfterMs restarts COLD (the documented state bound)") {
    import graft.streaming.EventStream.{RateEvent, RateOut}
    def m(i: Int) = t0 + i * 60000L
    val mst = MemoryStream[RateEvent]
    // tiny evictAfterMs (3 min): the gap from minute 5 to minute 30
    // crosses the horizon, so minutes 30-33 must score as cold-start
    // NULLs even though 6 pre-gap minutes exist
    val q = EventStream.rateAnomalyStream(mst.toDS(), windowRows = 4,
        minPoints = 3, zThreshold = 2.0, watermarkDelay = "1 minutes",
        evictAfterMs = 3 * 60000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("par_rate_evict").start()
    def burst(minute: Long, n: Int) =
      (0 until n).map(j => RateEvent("g", ts(minute + 1000L * (j + 1))))
    try {
      mst.addData((0 to 5).flatMap(i => burst(m(i), 2 + i % 3)): _*)
      q.processAllAvailable()
      mst.addData(RateEvent("wm1", ts(m(10)))) // seal + pass the horizon
      q.processAllAvailable()
      mst.addData((30 to 33).flatMap(i => burst(m(i), 3)): _*)
      q.processAllAvailable()
      mst.addData(RateEvent("wm2", ts(m(60))))
      q.processAllAvailable()
      val rows = spark.table("par_rate_evict").as[RateOut].collect()
        .filter(_.grp == "g").sortBy(_.minute_ms)
      assert(rows.length == 10, s"expected 10 emitted minutes, got ${rows.toSeq}")
      // pre-gap minutes 3-5 have warm z-scores; post-gap minutes 30-32
      // are cold (state evicted) and 33 is still refilling (n=3 history
      // meets minPoints=3 only at the 4th post-gap minute)
      assert(rows.take(6).drop(3).forall(_.z.isDefined))
      assert(rows.drop(6).take(3).forall(_.z.isEmpty),
        s"post-gap minutes must restart cold: ${rows.drop(6).toSeq}")
    } finally q.stop()
  }

  test("restart: sessionize — checkpointed stop/start mid-session; restored state merges a late event") {
    // same data as the sessionize parity test, but the query is STOPPED
    // after the sessions open and RESTARTED from its checkpoint before
    // the late event and the closers arrive: the merged sessions span
    // events delivered on BOTH sides of the restart, so equality with
    // batch truth proves the mapGroupsWithState state (and the
    // watermark) survive recovery, not just a single run
    val evs = Seq(
      Event(1, 1, ts(t0)), Event(1, 2, ts(t0 + 60000)), Event(1, 3, ts(t0 + 30000)),
      Event(1, 4, ts(t0 + 2 * 3600000)),
      Event(2, 10, ts(t0 + 1000)), Event(2, 11, ts(t0 + 300000)),
      Event(2, 12, ts(t0 + 2 * 3600000 + 60000)))
    val batch = EventStream.sessionize(evs.toDS()).collect().toSet

    // the memory sink refuses checkpoint recovery — a FILE sink is the
    // recovery-capable sink (and its _spark_metadata log makes the
    // final read exactly-once across both runs)
    val base = java.nio.file.Files.createTempDirectory("graft_restart_sess")
    val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    val ms = MemoryStream[Event]
    def startQuery() =
      EventStream.sessionize(ms.toDS(), watermarkDelay = "5 minutes")
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt).start()
    def readOut(): Set[SessionOut] = {
      val files = Option(new java.io.File(outDir).listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
      if (files.isEmpty) Set.empty
      else spark.read.parquet(outDir).as[SessionOut].collect().toSet
    }
    val q1 = startQuery()
    val out1 =
      try {
        ms.addData(evs(0), evs(1), evs(4))    // sessions OPEN, none closed
        q1.processAllAvailable()
        readOut()
      } finally q1.stop()
    assert(out1.isEmpty, s"no session may close before the restart: $out1")
    val q2 = startQuery()
    try {
      ms.addData(evs(2), evs(5))              // late merge INTO RESTORED STATE
      q2.processAllAvailable()
      ms.addData(evs(3), evs(6))              // gap events close both sessions
      q2.processAllAvailable()
    } finally q2.stop()
    // every emission happened after the restart, from state written
    // before it — equality with batch truth proves the state (and the
    // watermark) survived recovery
    assert(readOut() == batch, s"post-restart ${readOut()} != batch $batch")
  }

  test("restart: funnel — checkpointed stop/start with completions spanning the restart") {
    import graft.streaming.EventStream.{FunnelOut, TypedEvent}
    import graft.ops.Funnel
    val steps = Seq("view", "cart", "buy")
    val evs = Seq(
      TypedEvent(1, 1, ts(t0), "view"), TypedEvent(1, 2, ts(t0 + 60000), "cart"),
      TypedEvent(1, 3, ts(t0 + 120000), "buy"),
      TypedEvent(2, 10, ts(t0), "buy"), TypedEvent(2, 11, ts(t0 + 1000), "view"),
      TypedEvent(2, 12, ts(t0 + 2000), "cart"),
      TypedEvent(3, 20, ts(t0), "view"), TypedEvent(3, 21, ts(t0 + 1000), "buy"),
      TypedEvent(3, 22, ts(t0 + 2000), "cart"), TypedEvent(3, 23, ts(t0 + 3000), "buy"),
      TypedEvent(4, 30, ts(t0), "view"), TypedEvent(4, 31, ts(t0 + 1000), "cart"),
      TypedEvent(9, 99, ts(t0 + 3600000), "view"))
    val real = evs.filter(_.user_id != 9)
    val batch = Funnel.stages(real.toDS().toDF(), "user_id", "event_type",
        "ts", steps)
      .filter(col("ts_view").isNotNull && col("ts_cart").isNotNull &&
        col("ts_buy").isNotNull)
      .collect().map(r => FunnelOut(r.getLong(0),
        Seq(r.getTimestamp(1).getTime, r.getTimestamp(2).getTime,
          r.getTimestamp(3).getTime))).toSet

    val base = java.nio.file.Files.createTempDirectory("graft_restart_funnel")
    val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    val ms = MemoryStream[TypedEvent]
    def startQuery() =
      EventStream.funnel(ms.toDS(), steps, watermarkDelay = "3 minutes")
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt).start()
    def readOut(): Set[FunnelOut] = {
      val files = Option(new java.io.File(outDir).listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
      if (files.isEmpty) Set.empty
      else spark.read.parquet(outDir).as[FunnelOut].collect().toSet
    }
    // phase 1: u1's LAST stage, u3's middle stage, u4's cart — every
    // eventual completion needs state written before the restart AND
    // stages delivered after it
    val q1 = startQuery()
    val out1 =
      try {
        ms.addData(evs(2), evs(8), evs(11))
        q1.processAllAvailable()
        readOut()
      } finally q1.stop()
    assert(out1.isEmpty, s"no funnel may complete before the restart: $out1")
    // phase 2: restart from the checkpoint, deliver the rest
    val q2 = startQuery()
    try {
      ms.addData(evs(0), evs(4), evs(6), evs(7), evs(9))
      q2.processAllAvailable()
      ms.addData(evs(1), evs(3), evs(5), evs(10))
      q2.processAllAvailable()
      ms.addData(evs(12))                     // watermark past all real rows
      q2.processAllAvailable()
    } finally q2.stop()
    assert(readOut() == batch, s"post-restart ${readOut()} != batch $batch")
    assert(batch.map(_.user_id) == Set(1L, 3L))
  }

  test("parity: incrementalDedupSink — streamed verdicts equal the sequential batch operator; restart resumes the index") {
    import graft.ops.Dedup
    // three daily "crawls": cross-batch exact dups (4 of 1, 7 of 2),
    // a within-batch dup pair (5, 6), and fresh docs
    val batches = Seq(
      Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "alpha beta")),
      Seq((4L, "alpha beta"), (5L, "epsilon zeta"), (6L, "epsilon zeta")),
      Seq((7L, "gamma delta"), (8L, "eta theta")))
    // batch truth: the batch operator folded over the same boundaries,
    // index accumulated exactly as a daily pipeline would
    val emptyIdx = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("fingerprint",
          org.apache.spark.sql.types.StringType))))
    val (truth, _) = batches.foldLeft(
        (Map.empty[Long, String], emptyIdx)) { case ((acc, idx), rows) =>
      val v = Dedup.incrementalDedup(idx, rows.toDF("doc_id", "text"),
        "text", "doc_id", indexIsFingerprints = true)
      val collected = v.collect()
      (acc ++ collected.map(r => r.getLong(0) -> r.getString(2)),
        idx.union(collected.toSeq
          .filter(_.getString(2) == "new").map(r => Tuple1(r.getString(1)))
          .toDF("fingerprint")))
    }
    assert(truth == Map(1L -> "new", 2L -> "new", 3L -> "dup_delta",
      4L -> "dup_index", 5L -> "new", 6L -> "dup_delta",
      7L -> "dup_index", 8L -> "new"), s"batch truth shape: $truth")

    val base = java.nio.file.Files.createTempDirectory("graft_incdedup")
    val ckpt = s"$base/ckpt"; val idxDir = s"$base/index"; val outDir = s"$base/verdicts"
    val ms = MemoryStream[(Long, String)]
    def startQuery() =
      EventStream.incrementalDedupSink(ms.toDS().toDF("doc_id", "text"),
          "text", "doc_id", idxDir, outDir)
        .option("checkpointLocation", ckpt).start()
    // phase 1: batch 0 only, then STOP — its `new` fingerprints must
    // survive as the restored index, not as in-memory state
    val q1 = startQuery()
    try { ms.addData(batches(0): _*); q1.processAllAvailable() } finally q1.stop()
    // phase 2: restart from the checkpoint; batches 1 and 2 verdict
    // against the index batch 0 left on disk (4 -> dup_index proves it)
    val q2 = startQuery()
    try {
      ms.addData(batches(1): _*); q2.processAllAvailable()
      ms.addData(batches(2): _*); q2.processAllAvailable()
    } finally q2.stop()
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(streamed == truth, s"streamed $streamed != batch $truth")
    // the on-disk index is exactly the distinct `new` fingerprints
    val idx = spark.read.parquet(idxDir).collect().map(_.getString(0)).toSet
    assert(idx.size == 4, s"index must hold the 4 canonical fingerprints: $idx")
    // maintenance loop (VERDICT r09 #7): the sink's per-batch
    // `batch_id=N` subdirs are exactly the small-files generator
    // compactParquet exists for — compacting the accumulated verdict
    // output must preserve the state content-exactly (batch_id rides
    // along as a discovered partition column)
    def sortedRows(path: String): Seq[String] = {
      val df = spark.read.parquet(path)
      df.select(df.columns.sorted.map(col).toSeq: _*)
        .collect().map(_.toString).sorted.toSeq
    }
    val before = sortedRows(outDir)
    val compactDir = s"$base/verdicts_compacted"
    val nFiles = graft.sources.Sources.compactParquet(spark, outDir,
      compactDir, targetRowsPerFile = 1000L)
    assert(nFiles == 1L, s"8 verdict rows must compact to ONE file, got $nFiles")
    assert(sortedRows(compactDir) == before,
      "compaction changed the sink's accumulated state")
  }

  test("parity: neardupIncrementalSink — streamed near-dup verdicts equal the text-bootstrap operator; restart resumes the banded index") {
    import graft.ops.Dedup
    val s1 = "the quick brown fox jumps over the lazy dog while " +
      "seventeen zebras watch quietly from a nearby hill in the rain"
    val s2 = "completely different content about spark shuffles and " +
      "partition pruning across a large cluster of executors tonight"
    val s3 = "a third unrelated passage on winnowing fingerprints and " +
      "rolling hashes over normalized character streams for dedup"
    val s4 = "yet another standalone snippet describing watermark " +
      "semantics for stateful streaming operators under late arrival"
    // cross-batch near-dup (4 = s1 truncated), exact cross-batch dup
    // (7 = s2), within-batch pair (5, 6 — s4 is unrelated to batch 0,
    // so the dup_delta leg is what verdicts 6)
    val batches = Seq(
      Seq((1L, s1), (2L, s2), (3L, s3)),
      Seq((4L, s1.dropRight(25)), (5L, s4), (6L, s4)),
      Seq((7L, s2), (8L, "entirely fresh text about broadcast joins and skew salting")))
    // batch truth: the TEXT-BOOTSTRAP operator folded over the same
    // boundaries (index = union of all prior batches)
    var idxRows = Seq.empty[(Long, String)]
    var truth = Map.empty[Long, String]
    for (rows <- batches) {
      val v = Dedup.minhashIncremental(idxRows.toDF("doc_id", "text"),
        rows.toDF("doc_id", "text"), "text", "doc_id")
      truth = truth ++ v.collect().map(r => r.getLong(0) -> r.getString(1))
      idxRows = idxRows ++ rows
    }
    assert(truth == Map(1L -> "new", 2L -> "new", 3L -> "new",
      4L -> "dup_index", 5L -> "new", 6L -> "dup_delta",
      7L -> "dup_index", 8L -> "new"), s"batch truth shape: $truth")

    val base = java.nio.file.Files.createTempDirectory("graft_neardup")
    val ckpt = s"$base/ckpt"; val idxDir = s"$base/index"; val outDir = s"$base/verdicts"
    val ms = MemoryStream[(Long, String)]
    def startQuery() =
      EventStream.neardupIncrementalSink(ms.toDS().toDF("doc_id", "text"),
          "text", "doc_id", idxDir, outDir)
        .option("checkpointLocation", ckpt).start()
    val q1 = startQuery()
    try { ms.addData(batches(0): _*); q1.processAllAvailable() } finally q1.stop()
    // restart: batch 1's dup_index verdict (4 vs 1) proves the BANDED
    // index survived as disk state across the restart
    val q2 = startQuery()
    try {
      ms.addData(batches(1): _*); q2.processAllAvailable()
      ms.addData(batches(2): _*); q2.processAllAvailable()
    } finally q2.stop()
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(streamed == truth, s"streamed $streamed != batch $truth")
  }

  test("parity: componentsIncrementalSink — streamed labeling equals from-scratch CC and the batch merges; restart resumes the snapshot") {
    import graft.ops.Graph
    // three edge batches engineering every merge shape: a new
    // component per batch, a batch-2 edge that MERGES two batch-1
    // components (1-2 and 5-6 joined by 2-5), a batch-3 edge touching
    // only history (6-9 extends the merged component), and an isolated
    // late component (40, 41)
    val batches = Seq(
      Seq((1L, 2L), (5L, 6L), (10L, 11L)),
      Seq((2L, 5L), (20L, 21L)),
      Seq((6L, 9L), (40L, 41L)))
    // truth 1: the batch operator folded over the same boundaries
    val emptyLab = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("comp",
          org.apache.spark.sql.types.LongType))))
    val folded = batches.foldLeft(emptyLab) { (lab, rows) =>
      Graph.incrementalComponents(lab, "id", "comp",
        rows.toDF("src", "dst"), "src", "dst")
    }.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // truth 2: mechanism-independent — from-scratch CC over ALL edges
    val scratch = Graph.connectedComponents(
        batches.flatten.toDF("src", "dst"), "src", "dst")
      .select("id", "comp").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(folded == scratch, s"folded $folded != from-scratch $scratch")
    assert(folded(9L) == 1L && folded(6L) == 1L,
      s"cross-batch merge must land on the global min id: $folded")

    val base = java.nio.file.Files.createTempDirectory("graft_inccc")
    val ckpt = s"$base/ckpt"; val labDir = s"$base/labels"
    val ms = MemoryStream[(Long, Long)]
    def startQuery() =
      EventStream.componentsIncrementalSink(ms.toDS().toDF("src", "dst"),
          "src", "dst", labDir)
        .option("checkpointLocation", ckpt).start()
    // phase 1: batch 0 only, then STOP — the labeling must survive as
    // the restored snapshot, not as in-memory state
    val q1 = startQuery()
    try { ms.addData(batches(0): _*); q1.processAllAvailable() } finally q1.stop()
    // phase 2: restart; batch 1's 2-5 edge merges two components that
    // exist ONLY in the on-disk snapshot — the merged labeling
    // landing on comp 1 proves the state was restored from disk
    val q2 = startQuery()
    try {
      ms.addData(batches(1): _*); q2.processAllAvailable()
      ms.addData(batches(2): _*); q2.processAllAvailable()
    } finally q2.stop()
    // the LATEST snapshot is the result (earlier batch_id dirs are
    // history, exactly like the batch operator's successive outputs)
    val last = new java.io.File(labDir).listFiles()
      .filter(_.getName.startsWith("batch_id="))
      .maxBy(_.getName.stripPrefix("batch_id=").toLong)
    val streamed = spark.read.parquet(last.getAbsolutePath).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == scratch, s"streamed $streamed != from-scratch $scratch")
  }

  test("parity: rollupMergeSink — merged snapshot equals the single-pass rollup; restart resumes the state; batch_id debris is skipped") {
    import graft.ops.Enrich
    // three micro-batches across two hours + two types, with null-ts
    // rows riding along (they form the null-hour group — q36's
    // null-COMPLETE contract) and cross-batch key overlap so the merge
    // leg actually adds
    val h1 = t0 - t0 % 3600000
    val batches: Seq[Seq[(Timestamp, String, Double)]] = Seq(
      Seq((ts(h1 + 60000), "click", 1.25), (ts(h1 + 120000), "click", 2.5),
        (ts(h1 + 3660000), "view", 0.5)),
      Seq((ts(h1 + 180000), "click", 4.0), (null, "view", 1.0),
        (ts(h1 + 3720000), "view", 0.25)),
      Seq((ts(h1 + 3780000), "click", 3.0), (null, "view", 2.0)))
    // batch truth: the single-pass rollup of everything, served
    def serve(df: org.apache.spark.sql.DataFrame) =
      Enrich.mergeRollups(Seq(df)).collect()
        .map(r => (Option(r.get(0)), Option(r.get(1))) -> (r.getLong(2),
          r.getDouble(3), r.getDouble(4))).toMap
    val all = batches.flatten.toDF("ts", "event_type", "value")
    val truth = serve(Enrich.hourlyRollupState(all, "ts", "event_type", "value"))

    val base = java.nio.file.Files.createTempDirectory("graft_rollup")
    val ckpt = s"$base/ckpt"; val stateDir = s"$base/state"
    val ms = MemoryStream[(Timestamp, String, Double)]
    def startQuery() =
      EventStream.rollupMergeSink(ms.toDS().toDF("ts", "event_type", "value"),
          "ts", "event_type", "value", stateDir)
        .option("checkpointLocation", ckpt).start()
    // phase 1: batch 0 only, then STOP — the state must survive on disk
    val q1 = startQuery()
    try { ms.addData(batches(0): _*); q1.processAllAvailable() } finally q1.stop()
    // debris between phases: a non-numeric batch_id suffix must be
    // SKIPPED by the listing, not thrown on (a throw would wedge every
    // retry of the next batch — the ADVICE r08 finding)
    assert(new java.io.File(s"$stateDir/batch_id=0.bak").mkdirs())
    // phase 2: restart from the checkpoint; batch 1 merges into the
    // snapshot batch 0 left, batch 2 into batch 1's
    val q2 = startQuery()
    try {
      ms.addData(batches(1): _*); q2.processAllAvailable()
      ms.addData(batches(2): _*); q2.processAllAvailable()
    } finally q2.stop()
    val last = new java.io.File(stateDir).listFiles()
      .filter(f => f.getName.startsWith("batch_id=") &&
        f.getName.stripPrefix("batch_id=").forall(_.isDigit))
      .maxBy(_.getName.stripPrefix("batch_id=").toLong)
    assert(last.getName == "batch_id=2", s"latest snapshot: ${last.getName}")
    val streamed = serve(spark.read.parquet(last.getAbsolutePath))
    assert(streamed == truth, s"streamed $streamed != single-pass $truth")
    // the merged state itself is EXACT: the click hour accumulated
    // across all three batches (1.25 + 2.5 + 4.0 in h1)
    val h1Click = streamed((Some("click"), Some(h1)))
    assert(h1Click._1 == 3L && h1Click._2 == 7.75, s"h1 click: $h1Click")
    // snapshot pruning (ADVICE r09): after batch 2's write, the
    // grandparent snapshot batch_id=0 is deleted; the parent (1, for
    // retry idempotence) and the latest (2) remain; debris that isn't
    // a plain batch_id=<long> is never touched
    val dirs = new java.io.File(stateDir).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(dirs == Seq("batch_id=0.bak", "batch_id=1", "batch_id=2"),
      s"pruned snapshot set: $dirs")
  }

  test("parity: qualityGateSink — streamed verdicts equal the batch operator on the same persisted model") {
    import graft.ops.Curation
    // the production loop: fit OFFLINE on labeled docs, persist the
    // model table, score every arriving micro-batch against it
    val trainDocs = Seq(
      (101L, "alpha beta alpha beta", true), (102L, "alpha beta gamma", true),
      (103L, "zeta eta theta", false), (104L, "zeta theta eta", false))
      .toDF("doc_id", "text", "tgt")
    val base = java.nio.file.Files.createTempDirectory("graft_qgate")
    val modelPath = s"$base/model"; val ckpt = s"$base/ckpt"
    val outDir = s"$base/verdicts"
    Curation.nbFitModel(trainDocs, "text", "doc_id", col("tgt"))
      .write.parquet(modelPath)
    // held-out arrivals across two batches; doc 5 is empty (no
    // features -> no verdict row, the operator's contract)
    val batches = Seq(
      Seq((1L, "alpha beta beta"), (2L, "zeta eta eta")),
      Seq((3L, "alpha gamma"), (4L, "theta zeta"), (5L, "")))
    val truth = Curation.nbScoreWithModel(
        batches.flatten.toDF("doc_id", "text"), "text", "doc_id",
        spark.read.parquet(modelPath))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toMap
    val ms = MemoryStream[(Long, String)]
    val q = EventStream.qualityGateSink(ms.toDS().toDF("doc_id", "text"),
        "text", "doc_id", modelPath, outDir)
      .option("checkpointLocation", ckpt).start()
    try {
      ms.addData(batches(0): _*); q.processAllAvailable()
      ms.addData(batches(1): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_feats"), r.getAs[Double]("log_odds"),
          r.getAs[Int]("pred")))
      .toMap
    assert(streamed == truth, s"streamed $streamed != batch $truth")
    assert(streamed.keySet == Set(1L, 2L, 3L, 4L),
      "zero-token doc must produce no verdict row")
    // the gate actually discriminates: target-vocab arrivals pass,
    // rest-vocab arrivals are rejected
    assert(streamed(1L)._3 == 1 && streamed(3L)._3 == 1)
    assert(streamed(2L)._3 == 0 && streamed(4L)._3 == 0)
  }

  test("qualityGateSink drift monitor: a planted drifted batch reads js_bits >> in-distribution; restart-safe; equals the batch operator") {
    import graft.ops.{Curation, TextAnalysis}
    def rep0(s: String, n: Int) = Seq.fill(n)(s).mkString(" ")
    val trainDocs = Seq(
      (101L, rep0("alpha beta alpha beta", 10), true),
      (102L, rep0("alpha beta gamma", 10), true),
      (103L, rep0("zeta eta theta", 10), false),
      (104L, rep0("zeta theta eta", 10), false))
      .toDF("doc_id", "text", "tgt")
    val base = java.nio.file.Files.createTempDirectory("graft_qdrift")
    val modelPath = s"$base/model"; val ckpt = s"$base/ckpt"
    val outDir = s"$base/verdicts"; val monDir = s"$base/monitor"
    val refPath = s"$base/refhist"
    Curation.nbFitModel(trainDocs, "text", "doc_id", col("tgt"))
      .write.parquet(modelPath)
    // the training-reference histogram, fit offline beside the model
    TextAnalysis.tokenHistogram(trainDocs, "text", buckets = 64)
      .write.parquet(refPath)
    // batches 0/1 speak the training vocabulary; batch 2 is DRIFTED —
    // an entirely disjoint vocabulary the reference has never seen.
    // Docs carry enough tokens that the add-α prior (α·B = 32 pseudo-
    // counts) cannot wash the real counts out of the divergence.
    def rep(s: String, n: Int) = Seq.fill(n)(s).mkString(" ")
    val batches = Seq(
      Seq((1L, rep("alpha beta beta", 10)), (2L, rep("zeta eta eta", 10))),
      Seq((3L, rep("alpha beta gamma", 10)), (4L, rep("theta zeta eta", 10))),
      Seq((5L, rep("qqq www rrr qqq", 10)), (6L, rep("uuu vvv www uuu vvv", 10))))
    def startGate(ms: MemoryStream[(Long, String)]) =
      EventStream.qualityGateSink(ms.toDS().toDF("doc_id", "text"),
          "text", "doc_id", modelPath, outDir,
          refHistPath = refPath, monitorDir = monDir, driftBuckets = 64)
        .option("checkpointLocation", ckpt).start()
    val ms = MemoryStream[(Long, String)]
    val q = startGate(ms)
    try {
      ms.addData(batches(0): _*); q.processAllAvailable()
      ms.addData(batches(1): _*); q.processAllAvailable()
    } finally q.stop()
    // checkpointed RESTART before the drifted batch: the monitor is
    // stateless, so resumption needs nothing beyond the checkpoint
    val ms2 = MemoryStream[(Long, String)]
    ms2.addData(batches(0): _*); ms2.addData(batches(1): _*)
    val q2 = startGate(ms2)
    try {
      ms2.addData(batches(2): _*); q2.processAllAvailable()
    } finally q2.stop()
    val mon = spark.read.parquet(monDir).collect()
      .map(r => r.getAs[Long]("batch_id") ->
        (r.getAs[Long]("n_scored"), r.getAs[Long]("n_pass"),
          r.getAs[Double]("accept_rate"), r.getAs[Double]("js_bits")))
      .toMap
    assert(mon.keySet == Set(0L, 1L, 2L), s"one monitor row per batch: $mon")
    // accept accounting: batch 0 = 1 target-vocab pass of 2 scored
    assert(mon(0L)._1 == 2L && mon(0L)._2 == 1L && mon(0L)._3 == 0.5, mon.toString)
    // the drifted batch reads FAR above the in-distribution batches
    // (disjoint vocab approaches the 1-bit JS ceiling)
    assert(mon(2L)._4 > 0.5, s"drifted batch must approach 1 bit: $mon")
    assert(mon(2L)._4 > 3.0 * math.max(mon(0L)._4, mon(1L)._4),
      s"drift must dominate in-distribution jitter: $mon")
    // streamed monitor row == the batch operator on the same slice
    // (the parity contract, monitor edition)
    val direct = TextAnalysis.driftAgainstHistogram(
        batches(2).toDF("doc_id", "text"), "text",
        spark.read.parquet(refPath), buckets = 64)
      .head()
    assert(mon(2L)._4 == direct.getAs[Double]("js_bits"),
      s"streamed ${mon(2L)._4} != batch ${direct.getAs[Double]("js_bits")}")
    // verdicts still land for every batch (the monitor rides beside
    // the gate, never replaces it)
    assert(spark.read.parquet(outDir).count() == 6L)
  }

  test("tokenCostMonitorSink: a planted vocabulary-shifted batch reads a higher UNK rate; restart-safe; equals the batch operator") {
    import graft.ops.TextAnalysis
    // vocabulary fit OFFLINE on latin-ish training text
    val trainDocs = Seq(
      (101L, "alpha beta alpha beta gamma alpha"),
      (102L, "beta gamma delta alpha beta"),
      (103L, "gamma delta alpha beta gamma")).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft_tokmon")
    val modelPath = s"$base/model"; val ckpt = s"$base/ckpt"
    val costDir = s"$base/costs"; val monDir = s"$base/monitor"
    TextAnalysis.unigramFitModel(trainDocs, "text", seedSize = 32)
      .write.parquet(modelPath)
    // batches 0/1 speak the training vocabulary; batch 2 is
    // vocabulary-SHIFTED — words full of characters ('x','z','w','q'
    // never trained) the persisted model cannot cover
    val batches = Seq(
      Seq((1L, "alpha beta gamma"), (2L, "beta delta alpha")),
      Seq((3L, "gamma alpha beta delta"), (4L, "")),
      Seq((5L, "xxz wqx zzw alpha"), (6L, "qzx wxq zqw xwz")))
    def startMon(ms: MemoryStream[(Long, String)]) =
      EventStream.tokenCostMonitorSink(ms.toDS().toDF("doc_id", "text"),
          "text", "doc_id", modelPath, costDir, monDir)
        .option("checkpointLocation", ckpt).start()
    val ms = MemoryStream[(Long, String)]
    val q = startMon(ms)
    try {
      ms.addData(batches(0): _*); q.processAllAvailable()
      ms.addData(batches(1): _*); q.processAllAvailable()
    } finally q.stop()
    // checkpointed RESTART before the shifted batch: the monitor is
    // stateless, so resumption needs nothing beyond the checkpoint
    val ms2 = MemoryStream[(Long, String)]
    ms2.addData(batches(0): _*); ms2.addData(batches(1): _*)
    val q2 = startMon(ms2)
    try {
      ms2.addData(batches(2): _*); q2.processAllAvailable()
    } finally q2.stop()
    val mon = spark.read.parquet(monDir).collect()
      .map(r => r.getAs[Long]("batch_id") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_words"),
          r.getAs[Long]("n_unk_words"), Option(r.getAs[Any]("unk_rate"))))
      .toMap
    assert(mon.keySet == Set(0L, 1L, 2L), s"one monitor row per batch: $mon")
    // in-vocabulary batches: every word covered (the trained alphabet
    // reaches any position), zero UNK
    assert(mon(0L) == ((2L, 6L, 0L, Some(0.0))), mon.toString)
    // batch 1: the empty doc produces NO cost row (t24 contract)
    assert(mon(1L)._1 == 1L && mon(1L)._3 == 0L, mon.toString)
    // the vocabulary-shifted batch reads a HIGH unk rate: 7 of 8
    // words carry untrained characters
    assert(mon(2L)._2 == 8L && mon(2L)._3 == 7L &&
      mon(2L)._4 == Some(0.875), mon.toString)
    // streamed per-doc rows == the batch operator on the same slice
    // under the same persisted model (the parity contract)
    val direct = TextAnalysis.unigramSegmentWithModel(
        batches(2).toDF("doc_id", "text"), "text", "doc_id",
        spark.read.parquet(modelPath))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val streamed = spark.read.parquet(costDir)
      .filter(col("batch_id") === 2L).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_unk_words")).toMap
    assert(streamed == direct, s"streamed $streamed != batch $direct")
  }

  test("ivfIngestSink: streamed assignments equal the batch s16 fold; restart-safe; a drifted batch raises stale_frac; re-fit hot-swaps") {
    import graft.ops.Similarity
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    // index corpus: two tight clusters ALTERNATING by id so the
    // k-lowest-id init seeds one centroid in each mode (the
    // ClusterSpec plant)
    val idx = (0 until 20).map { i =>
      if (i % 2 == 0) (i.toLong, v(1.0, 0.01 * i)) else (i.toLong, v(0.01 * i, 1.0))
    }.toDF("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("graft_ivfsink")
    val centPath = s"$base/cents"; val ckpt = s"$base/ckpt"
    val assignDir = s"$base/assign"; val monDir = s"$base/monitor"
    val (cents, _) = Similarity.ivfIndexTables(idx, "embedding", "vec_id",
      numCentroids = 2)
    cents.write.parquet(centPath)
    // batches 0/1 are in-distribution; batch 2 is DRIFTED (two
    // 45-degree vectors no fit-corpus mode explains + one fresh)
    val batches = Seq(
      Seq((100L, v(1.0, 0.05)), (101L, v(0.05, 1.0))),
      Seq((102L, v(1.0, 0.02))),
      Seq((103L, v(1.0, 1.0)), (104L, v(0.95, 1.0)), (105L, v(1.0, 0.03))))
    def start(ms: MemoryStream[(Long, Array[Float])]) =
      EventStream.ivfIngestSink(ms.toDS().toDF("vec_id", "embedding"),
          "embedding", "vec_id", centPath, assignDir, monDir)
        .option("checkpointLocation", ckpt).start()
    val ms = MemoryStream[(Long, Array[Float])]
    val q = start(ms)
    try {
      ms.addData(batches(0): _*); q.processAllAvailable()
      ms.addData(batches(1): _*); q.processAllAvailable()
    } finally q.stop()
    // checkpointed RESTART before the drifted batch: the sink is
    // stateless, so resumption needs nothing beyond the checkpoint
    val ms2 = MemoryStream[(Long, Array[Float])]
    ms2.addData(batches(0): _*); ms2.addData(batches(1): _*)
    val q2 = start(ms2)
    try {
      ms2.addData(batches(2): _*); q2.processAllAvailable()
    } finally q2.stop()
    val mon = spark.read.parquet(monDir).collect()
      .map(r => r.getAs[Long]("batch_id") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Long]("n_stale"),
          r.getAs[Double]("stale_frac")))
      .toMap
    assert(mon.keySet == Set(0L, 1L, 2L), s"one monitor row per batch: $mon")
    // in-distribution batches assign comfortably above the train p05
    assert(mon(0L) == ((2L, 0L, 0.0)) && mon(1L) == ((1L, 0L, 0.0)),
      mon.toString)
    // the drifted batch trips the alarm on exactly its two 45-degree
    // vectors
    assert(mon(2L)._1 == 3L && mon(2L)._2 == 2L && mon(2L)._3 == 0.6667,
      mon.toString)
    // streamed assignment rows == the batch operator on the same
    // slice under the same persisted table (the parity contract —
    // st15's "incremental == batch s16 fold")
    val direct = Similarity.ivfAppendDelta(spark.read.parquet(centPath),
        batches(2).toDF("vec_id", "embedding"), "embedding", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3))).toSet
    val streamed = spark.read.parquet(assignDir)
      .filter(col("batch_id") === 2L).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("cluster_id"),
        r.getAs[Boolean]("stale"))).toSet
    assert(streamed == direct, s"streamed $streamed != batch $direct")
    // RE-FIT HOT-SWAP: overwrite the centroid table (k = 1) — the
    // next batch re-reads it, so every vector lands in the single
    // surviving cell without a stream restart
    Similarity.ivfIndexTables(idx, "embedding", "vec_id", numCentroids = 1)
      ._1.write.mode("overwrite").parquet(centPath)
    val q3 = start(ms2)
    try { ms2.addData(Seq((200L, v(1.0, 0.04)), (201L, v(0.02, 1.0))): _*)
      q3.processAllAvailable() } finally q3.stop()
    val swapped = spark.read.parquet(assignDir)
      .filter(col("batch_id") === 3L)
      .select("cluster_id").collect().map(_.getLong(0)).toSet
    assert(swapped == Set(0L), s"post-swap batch must use the new table: $swapped")
  }

  test("semDedupIngestSink: streamed verdicts equal the sequential batch operator; restart resumes the index") {
    import graft.ops.{Cluster, Similarity}
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    // offline fit on two tight clusters alternating by id
    val idxEmb = (0 until 20).map { i =>
      if (i % 2 == 0) (i.toLong, v(1.0, 0.01 * i)) else (i.toLong, v(0.01 * i, 1.0))
    }.toDF("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("graft_sdsink")
    val centPath = s"$base/cents"; val ckpt = s"$base/ckpt"
    val indexDir = s"$base/index"; val verdictDir = s"$base/verdicts"
    Similarity.ivfIndexTables(idxEmb, "embedding", "vec_id", numCentroids = 2)
      ._1.write.parquet(centPath)
    // batch 0: a within-batch near-dup pair (101, 102) and a loner;
    // batch 1: 200 near-dups 101/102 ACROSS the restart — found only
    // if the index resumed with batch 0's extension
    val batches = Seq(
      Seq((100L, v(1.0, 0.001)), (101L, v(-1.0, 0.004)), (102L, v(-1.0, 0.005))),
      Seq((200L, v(-1.0, 0.006))))
    def start(ms: MemoryStream[(Long, Array[Float])]) =
      EventStream.semDedupIngestSink(ms.toDS().toDF("vec_id", "embedding"),
          "embedding", "vec_id", centPath, indexDir, verdictDir,
          threshold = 0.95)
        .option("checkpointLocation", ckpt).start()
    val ms = MemoryStream[(Long, Array[Float])]
    val q = start(ms)
    try { ms.addData(batches(0): _*); q.processAllAvailable() } finally q.stop()
    // checkpointed RESTART between batches
    val ms2 = MemoryStream[(Long, Array[Float])]
    ms2.addData(batches(0): _*)
    val q2 = start(ms2)
    try { ms2.addData(batches(1): _*); q2.processAllAvailable() } finally q2.stop()
    def verdicts(b: Long) = spark.read.parquet(verdictDir)
      .filter(col("batch_id") === b).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch 0 against the EMPTY index: only the within-batch pair
    assert(verdicts(0L) == Set((101L, 102L)), s"batch 0: ${verdicts(0L)}")
    // batch 1 pairs with batch 0's indexed rows across the restart
    assert(verdicts(1L) == Set((101L, 200L), (102L, 200L)),
      s"batch 1: ${verdicts(1L)}")
    // streamed == the sequential batch operator on the same state
    val cents = spark.read.parquet(centPath)
    val idx0 = spark.read.parquet(s"$indexDir/batch_id=0")
    val direct = Cluster.semDedupIncremental(cents, idx0,
        batches(1).toDF("vec_id", "embedding"), "embedding", "vec_id",
        threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verdicts(1L) == direct, s"streamed ${verdicts(1L)} != batch $direct")
    // the index accumulated every batch vector (the d16 all-docs rule)
    assert(spark.read.parquet(indexDir).count() == 4L)
  }

  /** Spark jobs `body` launches that read parquet footers to infer a
    * schema: a schema-less read runs one driver-side `parallelize` job
    * (an operator's own jobs carry their physical operator's RDD scope
    * instead).
    */
  private def inferenceJobs(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.rddInfos.exists(r =>
            r.name == "ParallelCollectionRDD" && r.scope.exists(_.name == "parallelize"))))
          n.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.ListenerDrain(spark.sparkContext)
      n.get
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("index sinks read the accumulated index with its known schema: no schema-inference job per micro-batch") {
    import graft.ops.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_sinkjobs")
    // inference jobs of the SECOND micro-batch, the first one that
    // reads an index written by an earlier batch
    def secondBatch[A](ms: MemoryStream[A], b0: Seq[A], b1: Seq[A])(
        start: => org.apache.spark.sql.streaming.StreamingQuery): Int = {
      val q = start
      try {
        ms.addData(b0: _*); q.processAllAvailable()
        ms.addData(b1: _*)
        inferenceJobs(q.processAllAvailable())
      } finally q.stop()
    }
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"), (2L, "eta theta iota kappa"))
    val more = Seq((3L, "alpha beta gamma delta epsilon zeta"), (4L, "lambda mu nu xi"))
    val exact = MemoryStream[(Long, String)]
    val exactJobs = secondBatch(exact, docs, more)(
      EventStream.incrementalDedupSink(exact.toDS().toDF("doc_id", "text"),
          "text", "doc_id", s"$base/exact/index", s"$base/exact/verdicts")
        .option("checkpointLocation", s"$base/exact/ckpt").start())
    val near = MemoryStream[(Long, String)]
    val nearJobs = secondBatch(near, docs, more)(
      EventStream.neardupIncrementalSink(near.toDS().toDF("doc_id", "text"),
          "text", "doc_id", s"$base/near/index", s"$base/near/verdicts")
        .option("checkpointLocation", s"$base/near/ckpt").start())
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    Similarity.ivfIndexTables((0 until 20).map { i =>
        if (i % 2 == 0) (i.toLong, v(1.0, 0.01 * i)) else (i.toLong, v(0.01 * i, 1.0))
      }.toDF("vec_id", "embedding"), "embedding", "vec_id", numCentroids = 2)
      ._1.write.parquet(s"$base/sem/cents")
    val sem = MemoryStream[(Long, Array[Float])]
    val semJobs = secondBatch(sem, Seq((100L, v(1.0, 0.001)), (101L, v(-1.0, 0.004))),
        Seq((200L, v(-1.0, 0.005))))(
      EventStream.semDedupIngestSink(sem.toDS().toDF("vec_id", "embedding"),
          "embedding", "vec_id", s"$base/sem/cents", s"$base/sem/index",
          s"$base/sem/verdicts", threshold = 0.95)
        .option("checkpointLocation", s"$base/sem/ckpt").start())
    assert((exactJobs, nearJobs, semJobs) == ((0, 0, 0)),
      "schema-inference jobs per micro-batch (exact, near-dup, semantic)")
  }

  test("parity: funnel — streamed completions equal the batch stage rows") {
    import graft.streaming.EventStream.{FunnelOut, TypedEvent}
    import graft.ops.Funnel
    val steps = Seq("view", "cart", "buy")
    // u1 converts, delivered out of order; u2's buy PRECEDES its view
    // (must not convert — the strict-order contract); u3 converts with
    // an early buy that must not count and a later one that does; u4
    // stalls at cart (no completion row). user 9 only drives the
    // watermark.
    val evs = Seq(
      TypedEvent(1, 1, ts(t0), "view"), TypedEvent(1, 2, ts(t0 + 60000), "cart"),
      TypedEvent(1, 3, ts(t0 + 120000), "buy"),
      TypedEvent(2, 10, ts(t0), "buy"), TypedEvent(2, 11, ts(t0 + 1000), "view"),
      TypedEvent(2, 12, ts(t0 + 2000), "cart"),
      TypedEvent(3, 20, ts(t0), "view"), TypedEvent(3, 21, ts(t0 + 1000), "buy"),
      TypedEvent(3, 22, ts(t0 + 2000), "cart"), TypedEvent(3, 23, ts(t0 + 3000), "buy"),
      TypedEvent(4, 30, ts(t0), "view"), TypedEvent(4, 31, ts(t0 + 1000), "cart"),
      TypedEvent(9, 99, ts(t0 + 3600000), "view"))
    val real = evs.filter(_.user_id != 9)
    // batch truth: the window-min operator's COMPLETED rows
    val batch = Funnel.stages(real.toDS().toDF(), "user_id", "event_type",
        "ts", steps)
      .filter(col("ts_view").isNotNull && col("ts_cart").isNotNull &&
        col("ts_buy").isNotNull)
      .collect().map(r => FunnelOut(r.getLong(0),
        Seq(r.getTimestamp(1).getTime, r.getTimestamp(2).getTime,
          r.getTimestamp(3).getTime))).toSet
    assert(batch.map(_.user_id) == Set(1L, 3L), s"batch truth shape: $batch")

    val ms = MemoryStream[TypedEvent]
    // 3 min lateness: the first batch's max is t0+120000, so the t0
    // stragglers in later batches stay strictly above the watermark
    // (flatMapGroupsWithState drops input rows at ts <= watermark)
    val q = EventStream.funnel(ms.toDS(), steps, watermarkDelay = "3 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("par_funnel").start()
    try {
      ms.addData(evs(2), evs(8), evs(11))     // out of order: late stages first
      q.processAllAvailable()
      ms.addData(evs(0), evs(4), evs(6), evs(7), evs(9))
      q.processAllAvailable()
      ms.addData(evs(1), evs(3), evs(5), evs(10))
      q.processAllAvailable()
      ms.addData(evs(12))                     // watermark past all real rows
      q.processAllAvailable()
      val streamed = spark.table("par_funnel").as[FunnelOut].collect().toSet
      assert(streamed == batch, s"streamed $streamed != batch $batch")
    } finally q.stop()
  }
}
