package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.functions.{geo, num, text, vectors}
import graft.ops._

/** Driver contract: one `queries` entry per operator in SURVEY.md §2,
  * and for each a DuckDB-equivalent `oracleSql` where the operator is
  * ANSI-SQL-expressible. Column names/types and rounding are aligned
  * on both sides (doubles rounded, timestamps surfaced as epoch ms).
  */
object SparkEntry {

  /** Epoch milliseconds of a (possibly NTZ) timestamp column, with the
    * session in UTC — matches DuckDB's epoch_ms on naive timestamps.
    */
  private def epochMs(c: Column): Column = unix_millis(c.cast("timestamp"))

  /** Flagship: the reference's full enrichment pipeline shape on the
    * events table — time derivations + flag, frequency rank join,
    * group-flag propagation (reference `src/pipeline/main.py` steps
    * 5-10), on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val t = Tables(spark, "/root/testdata/sf0.001")
    // the reference pipeline end-to-end: idempotent insert → time
    // derivations → frequency rank → flag propagation → geo enrichment
    val deduped = Enrich.dedupKeepFirst(
      t.events.withColumn("ts_ms", unix_millis(col("ts"))),
      keys = Seq("event_id"), orderBy = Seq("ts_ms"))
    val derived = Enrich.deriveTime(deduped, col("ts"), col("event_type"), "error")
    val ranked = Enrich.withFrequencyRank(derived, "event_type", "type_rank")
    val flagged = Enrich.propagateFlag(
      ranked.withColumn("minute_bucket", date_trunc("minute", col("ts"))),
      Seq("minute_bucket", "user_id"), "flag")
    Enrich.withSideOfTown(
      flagged
        .withColumn("lat", lit(geo.TownCenterLat) + (col("user_id") % 10).cast("double") * 0.01)
        .withColumn("lon", lit(geo.TownCenterLon) + (col("user_id") % 7).cast("double") * 0.01),
      col("lat"), col("lon"))
  }

  /** Environment variable naming the declared queries a main runs. */
  val QueriesEnv = "SPARK_GRAFT_QUERIES"

  /** The declared query names `spec` selects: every query when `spec`
    * is None, else its comma-separated names in the order given
    * (`SPARK_GRAFT_QUERIES`, or PlanDump's list argument). An empty
    * list (an unset shell variable expanding to "") or an unknown name
    * fails here, before any session starts: either would otherwise
    * select nothing and read as a vacuous pass.
    */
  def selectQueries(spec: Option[String]): Seq[String] = spec match {
    case None => queries.keys.toSeq.sorted
    case Some(v) =>
      val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
      require(names.nonEmpty, s"query selection '$v' names no queries")
      val unknown = names.filterNot(queries.contains)
      require(unknown.isEmpty,
        s"query selection names undeclared queries: ${unknown.mkString(", ")}")
      names
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- core relational / reference-derived -----
    "q1_pricing_summary" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
      // All money/ratio columns carry <= 6 decimal digits, so sums in
      // decimal are exact (order-independent) and the explicit
      // floor(x*10^d + 0.5)/10^d round is identical double math in
      // Spark and DuckDB — no engine-rounding-semantics dependence at
      // any SF. (Sums stay below 2^53/10^d at the tested scales; an
      // all-decimal output would be the choice beyond that.)
      def dec(c: Column) = c.cast("decimal(18,6)")
      def fround(c: Column, d: Int) = num.fround(c, d)
      li.filter(col("l_shipdate").cast("date") <= lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          fround(sum(dec(col("l_quantity"))).cast("double"), 2).as("sum_qty"),
          fround(sum(dec(col("l_extendedprice"))).cast("double"), 2).as("sum_base_price"),
          fround(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).cast("double"), 2).as("sum_disc_price"),
          fround(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))) * (lit(1) + dec(col("l_tax")))).cast("double"), 2).as("sum_charge"),
          fround(sum(dec(col("l_quantity"))).cast("double") / count(col("l_quantity")), 4).as("avg_qty"),
          fround(sum(dec(col("l_extendedprice"))).cast("double") / count(col("l_extendedprice")), 4).as("avg_price"),
          fround(sum(dec(col("l_discount"))).cast("double") / count(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q2_time_derive" -> ((s, dir) => {
      val e = Tables(s, dir).events
      Enrich.deriveTime(e, col("ts"), col("event_type"), "error")
        .select(col("event_id"), col("day_of_week"), col("time_of_day"), col("flag"))
        .orderBy("event_id")
    }),

    "q3_freq_rank" -> ((s, dir) => {
      Enrich.frequencyRank(Tables(s, dir).events, "event_type")
        .select(col("event_type"), col("cnt"), col("rank"))
        .orderBy("rank", "event_type")
    }),

    "q4_dim_enrich" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.customer
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("n_name").as("nation"), col("r_name").as("region"))
        .orderBy("c_custkey")
    }),

    "q5_composite_enrich" -> ((s, dir) => {
      val e = Tables(s, dir).events
      // avg via exact decimal sum / non-null count, then an explicit
      // floor-based round: double summation is order-dependent across
      // partitions, and engine round() semantics differ exactly on the
      // .xxxx5 boundaries the exact quotient lands on (Spark rounds
      // the shortest decimal repr HALF_UP, DuckDB rounds the binary
      // double). floor(x*1e4 + 0.5)/1e4 is identical double math in
      // both engines, so results agree bit-for-bit at any scale.
      val hourly = e.groupBy(date_trunc("hour", col("ts")).as("hb"), col("event_type"))
        .agg(num.fround(sum(col("value").cast("decimal(18,6)")).cast("double")
          / count(col("value")), 4).as("hourly_avg"))
      e.withColumn("hb", date_trunc("hour", col("ts")))
        .join(hourly, Seq("hb", "event_type"))
        .select(col("event_id"), epochMs(col("hb")).as("hour_ms"), col("hourly_avg"))
        .orderBy("event_id")
    }),

    "q6_flag_propagate" -> ((s, dir) => {
      val e = Tables(s, dir).events
        .withColumn("flag", when(col("event_type") === "error", 1).otherwise(0))
        .withColumn("mb", date_trunc("minute", col("ts")))
      Enrich.propagateFlag(e, Seq("mb", "user_id"), "flag")
        .select(col("event_id"), col("flag"), col("flag_propagated"))
        .orderBy("event_id")
    }),

    "q7_incremental" -> ((s, dir) => {
      val o = Tables(s, dir).orders
        .withColumn("od", col("o_orderdate").cast("date"))
      Enrich.incrementalAfterWatermark(o, "o_orderdate", 90)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("price"),
          col("od").cast("string").as("order_date"))
        .orderBy("o_orderkey")
    }),

    "q8_side_of_town" -> ((s, dir) => {
      val c = Tables(s, dir).customer
        .withColumn("lat", lit(geo.TownCenterLat) + (col("c_custkey") % 21 - lit(10)).cast("double") * lit(0.01))
        .withColumn("lon", lit(geo.TownCenterLon) + (floor(col("c_custkey") / 21.0).cast("bigint") % 21 - lit(10)).cast("double") * lit(0.01))
      Enrich.withSideOfTown(c, col("lat"), col("lon"))
        .select(col("c_custkey"), round(col("lat"), 4).as("lat"),
          round(col("lon"), 4).as("lon"), col("side_of_town"))
        .orderBy("c_custkey")
    }),

    "q9_null_health" -> ((s, dir) => {
      val e = Tables(s, dir).events
      // coalesce mirrors the oracle: zero (not NULL) on empty input
      e.agg(
        count(lit(1)).as("total_rows"),
        coalesce(sum(when(col("value").isNull, 1L).otherwise(0L)), lit(0L)).as("null_value"),
        coalesce(sum(when(col("props").isNull, 1L).otherwise(0L)), lit(0L)).as("null_props"),
        coalesce(sum(when(trim(col("props")) === "", 1L).otherwise(0L)), lit(0L)).as("blank_props"))
    }),

    "q10_dedup_keyed" -> ((s, dir) => {
      val e = Tables(s, dir).events
        .select(col("user_id"), col("event_type"), col("event_id"), epochMs(col("ts")).as("ts_ms"))
      e.groupBy("user_id", "event_type")
        .agg(min(struct(col("ts_ms"), col("event_id"))).as("first"))
        .select(col("user_id"), col("event_type"),
          col("first.event_id").as("first_event_id"),
          col("first.ts_ms").as("first_ts_ms"))
        .orderBy("user_id", "event_type")
    }),

    "q11_hourly_rollup" -> ((s, dir) => {
      val e = Tables(s, dir).events
      // see q5: exact-decimal average + floor-round, deterministic at
      // any scale (the sum itself is exact at 2dp, no boundary risk)
      e.groupBy(epochMs(date_trunc("hour", col("ts"))).as("hour_ms"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          num.fround(sum(col("value").cast("decimal(18,6)")).cast("double")
            / count(col("value")), 4).as("avg_value"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2).as("sum_value"))
        .orderBy("hour_ms", "event_type")
    }),

    "q12_sessionize" -> ((s, dir) => {
      val e = Tables(s, dir).events
        .select(col("user_id"), col("event_id"), epochMs(col("ts")).as("ts_ms"))
      val wOrd = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
      val sessions = e
        .withColumn("prev_ms", lag("ts_ms", 1).over(wOrd))
        .withColumn("new_sess",
          when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > 1800000L, 1L).otherwise(0L))
        .withColumn("session_idx", sum("new_sess").over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sessions.groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          min("ts_ms").as("start_ms"), max("ts_ms").as("end_ms"))
        .orderBy("user_id", "session_idx")
    }),

    "q13_topk_per_group" -> ((s, dir) => {
      val p = Tables(s, dir).part
      val w = Window.partitionBy("p_brand").orderBy(col("p_retailprice").desc, col("p_partkey"))
      p.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("p_brand"), col("rn"), col("p_partkey"), col("p_name"),
          round(col("p_retailprice"), 2).as("price"))
        .orderBy("p_brand", "rn")
    }),

    "q14_revenue_topk" -> ((s, dir) => {
      val t = Tables(s, dir)
      // Pre-aggregate AND pre-rank the fact side BEFORE the join:
      // revenue is a function of lineitem alone, so the global top-10
      // is decided before orders is touched. orderBy+limit plans
      // TakeOrderedAndProject (each task forwards ≤10 rows — no range
      // exchange, no full sort), and the orders join then broadcasts
      // 10 rows instead of shuffling one row per order. Equivalent to
      // joining first because every l_orderkey references an order
      // (FK) and the join is 1:1 — the top-10 set is unchanged.
      val rev = t.lineitem.groupBy(col("l_orderkey"))
        .agg(num.fround(sum(col("l_extendedprice").cast("decimal(18,6)")
            * (lit(1) - col("l_discount").cast("decimal(18,6)"))).cast("double"), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
      // the final orderBy carries .limit(10) (a no-op on the 10-row
      // result) so it plans TakeOrderedAndProject instead of a range
      // exchange — a bare orderBy's partition-bounds sampling pass
      // re-executes the join subtree (measured +0.2 s at sf0.1)
      broadcast(rev).join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"),
          col("o_orderdate").cast("date").cast("string").as("order_date"),
          col("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    "q15_market_share" -> ((s, dir) => {
      val t = Tables(s, dir)
      // Pre-aggregate lineitem per order BEFORE the orders join (as in
      // q14): the join then moves one row per order, not one per line
      // item — ~4x less shuffle volume at scale. Parity-safe against
      // the direct-grouping oracle because both sides sum in exact
      // decimal: decimal addition is associative, so per-order partial
      // sums re-summed per (region, yr) give bit-identical totals (and
      // the single double cast + round happens only at the end).
      val perOrder = t.lineitem.groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,6)")
            * (lit(1) - col("l_discount").cast("decimal(18,6)"))).as("order_rev"),
          count(lit(1)).as("order_items"))
      perOrder
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), year(col("o_orderdate")).as("yr"))
        .agg(num.fround(sum(col("order_rev")).cast("double"), 2).as("revenue"),
          sum(col("order_items")).as("n_items"))
        .orderBy("region", "yr")
    }),

    "q16_asof_lastview" -> ((s, dir) => {
      val e = Tables(s, dir).events
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_id"), col("event_type"), epochMs(col("ts")).as("ts_ms"))
      val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      e.withColumn("last_view_ms",
          max(when(col("event_type") === "view", col("ts_ms"))).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts_ms"), col("last_view_ms"))
        .orderBy("event_id")
    }),

    "q19_asof_planned" -> ((s, dir) => {
      // the PLAN-BACKED as-of join (custom LogicalPlan + Strategy +
      // SparkPlan, graft.plans.AsofJoin*): q16's semantics executed as
      // one streaming merge over co-partitioned sorted children —
      // checked here against DuckDB's native ASOF JOIN
      val e = Tables(s, dir).events
        .select(col("user_id"), col("event_id"), col("event_type"),
          epochMs(col("ts")).as("ts_ms"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts_ms")
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_ms")).distinct()
      Asof.asofJoin(purchases, views, Seq(("user_id", "user_id")), "ts_ms", "ts_ms")
        .select(col("event_id"), col("ts_ms"), col("ts_ms_r").as("last_view_ms"))
        .orderBy("event_id")
    }),

    "q20_topk_rewrite" -> ((s, dir) => {
      // written in the PLAIN window row_number idiom on purpose — the
      // injected optimizer rule (graft.plans.TopKRewriteRule) replans
      // it as the bounded graft_topk aggregate + posexplode
      // (TopKRewriteSpec asserts no WindowExec survives); the oracle
      // runs the same window SQL in DuckDB, so the rewrite itself is
      // oracle-verified end-to-end. coalesce makes score/id
      // non-nullable, the rule's opt-in contract.
      val scored = Tables(s, dir).lineitem.select(
        col("l_suppkey").as("suppkey"),
        coalesce(num.fround(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2),
          lit(0.0)).as("score"),
        coalesce(col("l_orderkey") * 10 + col("l_linenumber"), lit(-1L))
          .cast("bigint").as("id"))
      val w = Window.partitionBy("suppkey").orderBy(col("score").desc, col("id").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .orderBy("suppkey", "rn")
    }),

    "q21_rollup" -> ((s, dir) => {
      // multi-dimensional aggregation (ROLLUP): per (type, hour),
      // per-type subtotals, and the grand total in ONE pass — Spark
      // plans this as Expand + a single partial-agg-friendly
      // aggregation, so at scale it costs one shuffle, not one scan
      // per granularity. grouping() flags disambiguate subtotal rows
      // from genuine NULL group values (same semantics in DuckDB).
      val e = Tables(s, dir).events
        .withColumn("hb_ms", epochMs(date_trunc("hour", col("ts"))))
      e.rollup(col("event_type"), col("hb_ms"))
        .agg(count(lit(1)).as("n"),
          num.fround(sum(col("value").cast("decimal(18,6)")).cast("double")
            / count(col("value")), 4).as("avg_value"),
          grouping(col("event_type")).cast("int").as("g_type"),
          grouping(col("hb_ms")).cast("int").as("g_hour"))
        .orderBy(col("g_type"), col("g_hour"), col("event_type"), col("hb_ms"))
    }),

    "q22_moving_avg" -> ((s, dir) => {
      // frame-based window aggregation: trailing 4-event moving
      // average per user (ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) —
      // the running-metric family beside q12's gap sessions and q16's
      // unbounded as-of window. Exact-decimal sum / non-null count in
      // the frame keeps the 4dp floor-round engine-identical; a frame
      // of all-NULL values yields NULL in both engines.
      val e = Tables(s, dir).events
        .select(col("user_id"), col("event_id"), epochMs(col("ts")).as("ts_ms"),
          col("value"))
      val w = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
        .rowsBetween(-3, Window.currentRow)
      e.withColumn("mov_avg", num.fround(
          sum(col("value").cast("decimal(18,6)")).over(w).cast("double")
            / count(col("value")).over(w), 4))
        .select(col("event_id"), col("ts_ms"), col("mov_avg"))
        .orderBy("event_id")
    }),

    "q17_dim_upsert" -> ((s, dir) => {
      val t = Tables(s, dir)
      // the reference's geocode-cache pattern: a partial dim ("cache")
      // plus facts referencing keys beyond it; only the missing keys
      // get "fetched" (a deterministic stand-in for the geocode call)
      val dim = t.nation.filter(col("n_nationkey") < 13)
        .select(col("n_nationkey").as("nationkey"), col("n_name").as("name"),
          lit("cached").as("src"))
      Enrich.upsertDim(dim, t.customer.select(col("c_nationkey").as("nationkey")),
          Seq("nationkey"),
          missing => missing.select(col("nationkey"),
            concat(lit("backfilled_"), col("nationkey")).as("name"),
            lit("fetched").as("src")))
        .orderBy("nationkey")
    }),

    "q18_salted_agg" -> ((s, dir) => {
      // the skew path in the driver's hard signal: two-stage salted
      // count (partials on (key, salt) spread a hot key over 16
      // reducers) must equal the direct groupBy count exactly
      Skew.saltedCount(Tables(s, dir).events,
          keys = Seq("user_id"), saltBy = Seq("event_id"))
        .orderBy("user_id")
    }),

    // ----- deduplication -----
    "d1_dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(Tables(s, dir).documents, "text", "doc_id")
        .orderBy("fingerprint")
    }),

    "d2_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashPairs(Tables(s, dir).documents, "text", "doc_id")
        .orderBy("id1", "id2")
    }),

    "d3_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(Tables(s, dir).documents, "text", "doc_id")
        .orderBy("id1", "id2")
    }),

    "d4_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(Tables(s, dir).documents, "text", "doc_id", col("source"))
        .orderBy("id1", "id2")
    }),

    "d5_embed_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDupPairs(Tables(s, dir).embeddings,
          "embedding", "vec_id", "label", 0.3)
        .orderBy("id1", "id2")
    }),

    "d7_cluster_dedup" -> ((s, dir) => {
      // pairs → transitive clusters → one canonical survivor per
      // cluster: the step that turns a near-dup PAIR list into an
      // actionable keep/drop verdict (A~B, B~C must drop two of
      // three). Threshold 0.35 (vs d5's 0.3) yields the structure the
      // operator exists for — many small tight clusters (sf0.1: 262
      // components, max size 7) rather than one loose hairball.
      val pairs = Dedup.embeddingNearDupPairs(Tables(s, dir).embeddings,
        "embedding", "vec_id", "label", 0.35)
      Graph.clusterDedup(pairs, "id1", "id2").orderBy("id")
    }),

    "d8_embed_lsh" -> ((s, dir) => {
      // the LABEL-LESS embedding near-dup form: blocking comes from the
      // corpus itself (s2's hyperplane band keys), not a caller column —
      // the shape a real unlabeled corpus needs. Declared at the
      // 4-BAND corpus-size-derived layout — the ECONOMY end of the
      // band-count recall/cost trade (fewer bands = fewer candidate
      // chances = cheaper and lower recall; d9's 6-band auto is the
      // recall headline). Re-scoped in r14: the former pinned 24-plane
      // layout measured ×17 wall at 10× rows (bucket population grows
      // with the corpus — the sf1 board's finding) and is demoted to
      // the RobustSpec A/B + the d23 recall gate; BOTH declared forms
      // now carry the count-derived bits, so block sizes hold as the
      // corpus grows. The oracle derives bits from count(*) with the
      // same integer rule over shared-prefix planes (d9's machinery at
      // bands = 4, bit cap 15).
      Dedup.embeddingNearDupPairsLshAuto(Tables(s, dir).embeddings,
          "embedding", "vec_id", threshold = 0.4, dim = 64, bands = 4)
        .orderBy("id1", "id2")
    }),

    "d9_embed_lsh_auto" -> ((s, dir) => {
      // d8 with CORPUS-SIZE-DERIVED banding bits (6 bands × autoBandBits):
      // d8's fixed 24-plane layout has the same pinned-banding failure
      // mode the sf1 proof-point measured on s2 (buckets grow with the
      // corpus, candidates quadratically). The oracle derives the bits
      // from count(*) with the same integer rule over shared-prefix
      // hyperplanes, so the scaled candidate generation is verified at
      // every SF.
      Dedup.embeddingNearDupPairsLshAuto(Tables(s, dir).embeddings,
          "embedding", "vec_id", threshold = 0.4, dim = 64)
        .orderBy("id1", "id2")
    }),

    "d14_incremental_dedup" -> ((s, dir) => {
      // delta-batch dedup against the accumulated index — the daily
      // crawl shape. The t8 deterministic split stands in for the
      // index/delta partition (accretion-safe: re-running with more
      // docs never reassigns existing ones).
      val docs = Tables(s, dir).documents
      val split = Curation.deterministicSplit(docs, "doc_id", "graft",
        Seq(("index", 0.7), ("delta", 0.3)), outCol = "split")
      Dedup.incrementalDedup(
          split.where(col("split") === "index"),
          split.where(col("split") === "delta"),
          "text", "doc_id")
        .orderBy("doc_id")
    }),

    "d15_dup_rate_sample" -> ((s, dir) => {
      // cluster-coherent sampled dup-rate estimate: sampling keys on
      // the content fingerprint so duplicate groups are sampled whole
      // — the 1/8-cost answer to "is a full dedup worth running?"
      Dedup.dupRateSample(Tables(s, dir).documents, "text",
        salt = "graft", sampleHex = "2000")
    }),

    "d22_banding_recall" -> ((s, dir) => {
      // s5's eval-gate role for the DEDUP family: measured recall of
      // LSH band-candidate generation vs brute-force exact-Jaccard
      // truth, both on d15's cluster-coherent 1/4 sample — the
      // number a production run reads before trusting a banding
      // configuration on a new corpus. Portable md5-fold minhash
      // (the d3 contract), so candidate GENERATION itself is under
      // the oracle, not just the verify
      Dedup.bandingRecall(Tables(s, dir).documents, "text", "doc_id")
    }),

    "d24_semdedup_incremental" -> ((s, dir) => {
      // INCREMENTAL SemDeDup — the d16 shape for semantic dedup, fed
      // by s16's persisted index: the delta 2-probes the FROZEN
      // centroids, the index keeps its one persisted home row per
      // point (history never re-exploded), candidates meet on the
      // cluster equi-join, exact cosine verifies. The oracle replays
      // fit, frozen assignment, probe blocking, and verify.
      val emb = Tables(s, dir).embeddings
      val isIdx = substring(md5(concat(col("vec_id").cast("string"),
        lit(":graft"))), 1, 4) < "c000"
      val (cents, idxAsg) = Similarity.ivfIndexTables(
        emb.filter(isIdx), "embedding", "vec_id", numCentroids = 4)
      val index = idxAsg.select(col("id").as("vec_id"), col("cluster_id"))
        .join(emb.filter(isIdx).select("vec_id", "embedding"), Seq("vec_id"))
      Cluster.semDedupIncremental(cents, index, emb.filter(!isIdx),
          "embedding", "vec_id", threshold = 0.4)
        .orderBy("id1", "id2")
    }),

    "d23_embed_banding_recall" -> ((s, dir) => {
      // d22's gate for the EMBEDDING LSH family (d8/d9): measured
      // recall of hyperplane band-candidate generation vs brute-force
      // exact-cosine truth, both on a deterministic 1/8 id-keyed
      // sample. The d8-pinned 24-plane/6-band layout and the shared
      // seeded planes are what the gate prices; the oracle replays
      // the signatures from literal plane vectors, so candidate
      // GENERATION itself is under the check.
      Dedup.embeddingBandingRecall(Tables(s, dir).embeddings,
        "embedding", "vec_id", threshold = 0.4, dim = 64)
    }),

    "d16_neardup_incremental" -> ((s, dir) => {
      // d14's daily-crawl shape for NEAR-dups: delta docs verdicted
      // against the accumulated index by banded MinHash + exact
      // Jaccard verify — index×index is never re-paired. Same t8
      // bootstrap split as d14.
      val docs = Tables(s, dir).documents
      val split = Curation.deterministicSplit(docs, "doc_id", "graft",
        Seq(("index", 0.7), ("delta", 0.3)), outCol = "split")
      Dedup.minhashIncremental(
          split.where(col("split") === "index"),
          split.where(col("split") === "delta"),
          "text", "doc_id")
        .orderBy("doc_id")
    }),

    // ----- similarity search -----
    "s1_ann_bruteforce" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      val probes = emb.filter(col("vec_id") % 100 === 0)
      Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", 5)
        .orderBy("query_id", "rank")
    }),

    "s7_ann_pq" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      val probes = emb.filter(col("vec_id") % 100 === 0)
      Similarity.pqTopK(emb, probes, "embedding", "vec_id", 5)
        .orderBy("query_id", "rank")
    }),

    "s12_ann_rerank" -> ((s, dir) => {
      // two-stage ANN: s7's compressed ADC scan proposes 50 candidates
      // per probe, an exact-cosine pass over ONLY those candidates
      // reranks to the final top-5 — the production architecture
      // (codes scan + bounded full-precision fetch), both stages
      // oracle-replicated
      val emb = Tables(s, dir).embeddings
      val probes = emb.filter(col("vec_id") % 100 === 0)
      Similarity.pqRerankTopK(emb, probes, "embedding", "vec_id",
          k = 5, candidates = 50)
        .orderBy("query_id", "rank")
    }),

    "s14_ivfpq_rerank" -> ((s, dir) => {
      // the FULL production serving shape: IVF prunes which codes are
      // scanned (4 of 16 lists), ADC compresses the scan (8 one-byte
      // codes/pair) to propose 50 candidates, an exact-cosine pass
      // over ONLY those candidates reranks to the final top-5 — all
      // three stages oracle-replicated
      val emb = Tables(s, dir).embeddings
      val probes = emb.filter(col("vec_id") % 100 === 0)
      Similarity.ivfPqRerankTopK(emb, probes, "embedding", "vec_id",
          k = 5, candidates = 50, numCentroids = 16, nProbe = 4)
        .orderBy("query_id", "rank")
    }),

    "s15_ivfpq_recall" -> ((s, dir) => {
      // the s5 eval gate pointed at the new composite index: per-query
      // recall@5 of the raw IVF-pruned ADC ranking (s13) against
      // brute-force truth (s1) — what a caller reads before turning
      // the nProbe/candidates knobs
      val emb = Tables(s, dir).embeddings
      val probes = emb.filter(col("vec_id") % 100 === 0)
      val truth = Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", 5)
      val approx = Similarity.ivfPqTopK(emb, probes, "embedding", "vec_id",
        5, numCentroids = 16, nProbe = 4)
      Similarity.recallAtK(truth, approx, 5)
        .orderBy("query_id")
    }),

    "s8_mmr_select" -> ((s, dir) => {
      // diversity-aware exemplar pick: greedy MMR against the corpus
      // mean vector — k representative-yet-mutually-distinct rows,
      // where a plain relevance top-k returns k near-copies
      Cluster.mmrSelect(Tables(s, dir).embeddings, "embedding", "vec_id",
          k = 5, lambda = 0.7)
        .orderBy("rank")
    }),

    "s2_ann_lsh" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      val probes = emb.filter(col("vec_id") % 100 === 0)
      // banding PINNED to the oracle-replicated 16-plane layout (the
      // library default derives from corpus size — s4 covers that)
      Similarity.lshTopK(emb, probes, "embedding", "vec_id", 5, 64,
          numPlanes = 16, bands = 4)
        .orderBy("query_id", "rank")
    }),

    "s3_ann_ivf" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      val probes = emb.filter(col("vec_id") % 100 === 0)
      Similarity.ivfTopK(emb, probes, "embedding", "vec_id", 5,
        numCentroids = 16, nProbe = 4)
        .orderBy("query_id", "rank")
    }),

    "s13_ivfpq" -> ((s, dir) => {
      // the IVFADC composite: s3's inverted-file prune (each probe
      // reads 4 of 16 lists) stacked on s7's PQ compression (ADC
      // scoring over 8 one-byte codes) — both stages oracle-replicated
      val emb = Tables(s, dir).embeddings
      val probes = emb.filter(col("vec_id") % 100 === 0)
      Similarity.ivfPqTopK(emb, probes, "embedding", "vec_id", 5,
          numCentroids = 16, nProbe = 4)
        .orderBy("query_id", "rank")
    }),

    "s4_ann_lsh_auto" -> ((s, dir) => {
      // the SCALE form of s2: banding bits derived from the corpus
      // size (autoBandBits — bucket population held ~constant as the
      // corpus grows; s2's fixed 16-plane banding measured 37x wall at
      // 10x corpus, SURVEY §6). The oracle derives bits from count(*)
      // with the same integer rule and reads the same shared-prefix
      // hyperplanes, so candidate generation is oracle-checked at
      // every SF, not just the one the banding was tuned on.
      val emb = Tables(s, dir).embeddings
      val probes = emb.filter(col("vec_id") % 100 === 0)
      // lshTopK's DEFAULT is the corpus-derived banding — s4 declares
      // exactly that default path
      Similarity.lshTopK(emb, probes, "embedding", "vec_id", 5, 64)
        .orderBy("query_id", "rank")
    }),

    "s5_recall_eval" -> ((s, dir) => {
      // measured recall@5 of the auto-banded LSH index (s4's path)
      // against brute-force ground truth (s1's path) — the eval gate
      // an approximate index must pass before replacing the exact scan
      val emb = Tables(s, dir).embeddings
      val probes = emb.filter(col("vec_id") % 100 === 0)
      val truth = Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", 5)
      val approx = Similarity.lshTopK(emb, probes, "embedding", "vec_id", 5, 64)
      Similarity.recallAtK(truth, approx, 5)
        .orderBy("query_id")
    }),

    "s6_embed_stats" -> ((s, dir) => {
      // per-label embedding health panel: counts, dim raggedness,
      // zero norms, norm mean/median, intra-label coherence (mean
      // cosine to the label centroid) — the drift alarm between
      // ingest batches
      Similarity.embeddingStats(Tables(s, dir).embeddings, "embedding", "label")
        .orderBy("grp")
    }),

    "s16_ivf_incremental" -> ((s, dir) => {
      // INCREMENTAL IVF maintenance (the d16 shape for the similarity
      // family): fit ONCE on the index slice -> persisted centroid +
      // assignment tables; the delta slice assigns to the FROZEN
      // centroids (one map-only pass, history untouched); queries
      // read the merged index. Output: the per-centroid merged-index
      // census + the staleness monitor (fraction of delta points
      // whose nearest-centroid distance exceeds the train p95). The
      // oracle replays the fit AND assigns every point from scratch
      // at the same centroids — incremental == from-scratch is the
      // equality under check.
      val emb = Tables(s, dir).embeddings
      // t8's deterministic split rule: ~75% index / 25% delta
      val isIdx = substring(md5(concat(col("vec_id").cast("string"),
        lit(":graft"))), 1, 4) < "c000"
      val (cents, idxAsg) = Similarity.ivfIndexTables(
        emb.filter(isIdx), "embedding", "vec_id", numCentroids = 4)
      val deltaAsg = Similarity.ivfAppendDelta(
        cents, emb.filter(!isIdx), "embedding", "vec_id")
      val merged = idxAsg
        .select(col("cluster_id"), lit(0L).as("is_delta"), lit(0L).as("is_stale"))
        .unionByName(deltaAsg.select(col("cluster_id"),
          lit(1L).as("is_delta"), col("stale").cast("long").as("is_stale")))
        .groupBy("cluster_id")
        .agg(sum(lit(1L) - col("is_delta")).as("n_index"),
          sum(col("is_delta")).as("n_delta"),
          sum(col("is_stale")).as("n_stale"))
      // the grid comes from the centroid table so an empty centroid
      // still surfaces (with zero counts)
      cents.select(col("cluster_id"), col("train_cos_q05"))
        .join(merged, Seq("cluster_id"), "left")
        .select(col("cluster_id"),
          coalesce(col("n_index"), lit(0L)).as("n_index"),
          coalesce(col("n_delta"), lit(0L)).as("n_delta"),
          coalesce(col("n_stale"), lit(0L)).as("n_stale"),
          when(coalesce(col("n_delta"), lit(0L)) > 0,
            graft.functions.num.fround(col("n_stale").cast("double")
              / col("n_delta").cast("double"), 4)).as("stale_frac"),
          col("train_cos_q05"))
        .orderBy("cluster_id")
    }),

    "s17_ivf_refit" -> ((s, dir) => {
      // RE-FIT MIGRATION (the step s16's stale alarm triggers): old
      // index = fit on the t8 75% slice + frozen-append of the 25%
      // delta; the re-fit runs ivfIndexTables over the FULL corpus at
      // a (deliberately different) k, reassigns everything in one
      // map-only pass, and the declared output is the migration
      // RECEIPT — the (old, new) cluster confusion rollup with
      // staleness before (old q05 rule) and after (new q05 rule).
      // Reassignment == from-scratch at the new centroids holds by
      // construction; the oracle replays BOTH fits, BOTH q05
      // calibrations, and the rollup digit-for-digit.
      val emb = Tables(s, dir).embeddings
      val isIdx = substring(md5(concat(col("vec_id").cast("string"),
        lit(":graft"))), 1, 4) < "c000"
      val (oldCents, oldIdxAsg) = Similarity.ivfIndexTables(
        emb.filter(isIdx), "embedding", "vec_id", numCentroids = 4)
      val deltaAsg = Similarity.ivfAppendDelta(
        oldCents, emb.filter(!isIdx), "embedding", "vec_id")
      val oldAsg = oldIdxAsg.unionByName(
        deltaAsg.select(col("id"), col("cluster_id"), col("cos")))
      val (_, _, receipt) = Similarity.ivfRefitMigration(
        oldCents, oldAsg, emb, "embedding", "vec_id", numCentroids = 5)
      receipt.orderBy("old_cluster_id", "new_cluster_id")
    }),

    // ----- text analysis -----
    "t1_lang_profile" -> ((s, dir) => {
      TextAnalysis.langProfile(Tables(s, dir).documents, "text", "lang", "n_chars")
        .orderBy("lang")
    }),

    "t2_quality_score" -> ((s, dir) => {
      TextAnalysis.qualityScores(Tables(s, dir).documents, "text", "doc_id")
        .orderBy("doc_id")
    }),

    "t3_token_topk" -> ((s, dir) => {
      TextAnalysis.tokenTopK(Tables(s, dir).documents, "text", 20)
    }),

    "t4_fingerprint" -> ((s, dir) => {
      TextAnalysis.fingerprints(Tables(s, dir).documents, "text", "doc_id")
        .orderBy("doc_id")
    }),

    "t5_lang_id" -> ((s, dir) => {
      TextAnalysis.languageId(Tables(s, dir).documents, "text", "doc_id")
        .orderBy("doc_id")
    }),

    "t6_token_bpe" -> ((s, dir) => {
      val d = Tables(s, dir).documents
      d.select(col("doc_id"), text.bpeTokenCount(col("text")).as("n_bpe"),
          text.tokenCount(col("text")).as("n_ws"))
        .orderBy("doc_id")
    }),

    // ----- corpus curation -----
    "t7_pii_scrub" -> ((s, dir) => {
      // the synthetic corpus carries no PII, so the query plants a
      // deterministic payload per doc (identically on the oracle side)
      // and the operator must find and redact exactly it — emails +
      // phones + IPv4s + SSN-shaped ids, the CCNet-class rule set
      val docs = Tables(s, dir).documents.withColumn("pii_text",
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com"),
          when(col("doc_id") % 3 === 0, lit(" call 555-123-4567 or 555-987-6543"))
            .when(col("doc_id") % 3 === 1, lit(" call 555-111-2222"))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
              lit(".7")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" ssn 123-45-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit(""))))
      Curation.scrubPii(docs, "pii_text", "doc_id").orderBy("doc_id")
    }),

    "t8_split_det" -> ((s, dir) => {
      Curation.deterministicSplit(Tables(s, dir).documents.select("doc_id"),
          "doc_id", "graft", Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)))
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id")
    }),

    "t9_seq_pack" -> ((s, dir) => {
      Curation.packSequences(Tables(s, dir).documents, "doc_id", "text",
          "source", budgetTokens = 2048L)
        .orderBy("shard", "doc_id")
    }),

    "t25_chunk_passages" -> ((s, dir) => {
      Curation.chunkPassages(Tables(s, dir).documents, "doc_id", "text",
          windowTokens = 64, stride = 48)
        .orderBy("doc_id", "chunk_idx")
    }),

    "t48_mixture_weights" -> ((s, dir) => {
      // DoReMi-lite: 5 multiplicative-weights rounds shifting mixture
      // mass toward sources with above-mixture held-out NLL (t18's
      // unigram-LM loss as the proxy, the current mixture's expected
      // loss as the moving reference). The whole TRAJECTORY — not
      // just the endpoint — is oracle-replayed round for round (the
      // t37 EM-trajectory technique).
      Curation.mixtureWeights(Tables(s, dir).documents, "text", "doc_id",
        "source", salt = "graft", rounds = 5, eta = 0.5)
    }),

    "t47_shard_manifest" -> ((s, dir) => {
      // the training-export receipt: per shard (the t8 hash rule, 8
      // shards), doc count, packed-sequence count (t9's 2048-token
      // rule in t13's deterministic order), token mass, and the
      // order-sensitive XOR-of-md5-folds content hash — the number a
      // trainer compares before trusting a shard directory. The
      // oracle replicates the assignment, order, packing, and hash
      // arithmetic digit-for-digit.
      Curation.shardManifest(Tables(s, dir).documents, "doc_id", "text",
        salt = "graft", nShards = 8, budgetTokens = 2048L)
    }),

    "d6_decontaminate" -> ((s, dir) => {
      val split = Curation.deterministicSplit(Tables(s, dir).documents,
        "doc_id", "graft", Seq(("train", 0.95), ("eval", 0.05)))
      Curation.contaminationPairs(split, "text", "doc_id", "split", "eval")
        .orderBy("train_id", "eval_id")
    }),

    "q30_cdc_apply" -> ((s, dir) => {
      val log = Tables(s, dir).events
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
          col("event_id"), (col("event_type") === "error").as("del"),
          col("value"))
      Enrich.cdcApply(log, Seq("user_id"), Seq("ts_ms", "event_id"),
          "del", Seq("value"))
        .orderBy("user_id")
    }),

    "c3_curation_pipeline" -> ((s, dir) => {
      Curation.curationPipeline(Tables(s, dir).documents, "text", "doc_id",
          "lang")
        .orderBy("doc_id")
    }),

    "d13_decontam_bloom" -> ((s, dir) => {
      val split = Curation.deterministicSplit(Tables(s, dir).documents,
        "doc_id", "graft", Seq(("train", 0.95), ("eval", 0.05)))
      Curation.contaminationPairsBloom(split, "text", "doc_id", "split", "eval")
        .orderBy("train_id", "eval_id")
    }),

    "d18_decontam_embed" -> ((s, dir) => {
      // SEMANTIC decontamination: every train vector verdicted by
      // whether an eval vector sits within cosine 0.4 — the
      // paraphrase/translation leak n-gram decontam (d6/d13) is
      // structurally blind to. d9's auto-banded machinery with sides:
      // candidates are train-bands x eval-bands, never train x eval
      Curation.decontaminateByEmbedding(Tables(s, dir).embeddings,
          "embedding", "vec_id", col("vec_id") % 10 === 0,
          threshold = 0.4, dim = 64)
        .orderBy("doc_id")
    }),

    "t13_det_shuffle" -> ((s, dir) => {
      Curation.deterministicShuffle(Tables(s, dir).documents.select("doc_id"),
          "doc_id", "shuf")
        .select("doc_id", "bucket", "pos")
        .orderBy("bucket", "pos")
    }),

    "t12_rolling_fp" -> ((s, dir) => {
      TextAnalysis.rollingFingerprints(Tables(s, dir).documents, "text", "doc_id")
        .orderBy("doc_id")
    }),

    "t10_len_quantiles" -> ((s, dir) => {
      TextAnalysis.lengthQuantiles(Tables(s, dir).documents, "lang", "n_chars")
        .orderBy("grp")
    }),

    "t14_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionSignals(Tables(s, dir).documents, "text", "doc_id")
        .orderBy("doc_id")
    }),

    "t16_quality_filter" -> ((s, dir) => {
      Curation.qualityFilter(Tables(s, dir).documents, "text", "doc_id")
        .orderBy("doc_id")
    }),

    "t15_winnow" -> ((s, dir) => {
      TextAnalysis.winnowFingerprints(Tables(s, dir).documents, "text", "doc_id")
        .orderBy("doc_id", "pos")
    }),

    "t18_lm_score" -> ((s, dir) => {
      // unigram LM trained on the t8 deterministic train split, scoring
      // the WHOLE corpus — the perplexity-style quality signal
      val docs = Tables(s, dir).documents
      val split = Curation.deterministicSplit(docs, "doc_id", "graft",
        Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)))
      TextAnalysis.lmScore(split.filter(col("split") === "train"), docs,
          "text", "doc_id")
        .orderBy("doc_id")
    }),

    "t23_heavy_hitters" -> ((s, dir) => {
      // exact frequent terms (>= 1/1000 of all tokens) via the
      // Misra-Gries candidate sketch + exact recount — never shuffles
      // the vocabulary, unlike t3's full groupBy
      TextAnalysis.heavyHitters(Tables(s, dir).documents, "text")
    }),

    "t24_dsir_select" -> ((s, dir) => {
      // DSIR (Xie et al., 2023): hashed-ngram importance weights
      // target (lang='en') vs raw (all), then the selection step as a
      // TakeOrdered top-50 — never a global sort or rank
      val docs = Tables(s, dir).documents
      Curation.dsirWeights(docs, "text", "doc_id",
          col("lang") === "en")
        .orderBy(col("log_w").desc, col("doc_id")).limit(50)
    }),

    "t36_quality_classifier" -> ((s, dir) => {
      // the trained CCNet/GPT-3-recipe quality filter: multinomial
      // naive Bayes over t24's 8192-bucket hashed n-gram features,
      // fit target(lang='en')-vs-rest on the t8 TRAIN split only,
      // scoring EVERY doc (held-out included) with log-odds + verdict
      // — the discriminative rung t16's heuristics and t24's
      // importance weights lead up to
      val docs = Tables(s, dir).documents
      val train = substring(md5(concat(col("doc_id").cast("string"),
        lit(":"), lit("graft"))), 1, 4) < "e666"
      Curation.nbQualityScore(docs, "text", "doc_id",
          col("lang") === "en", train)
        .orderBy("doc_id")
    }),

    "t39_classifier_eval" -> ((s, dir) => {
      // the eval gate for t36 (the s5/s15 recall-gate pattern pointed
      // at the trained classifier): held-out confusion counts +
      // precision/recall/F1/accuracy — the numbers a threshold tune
      // actually reads, as a first-class oracle-checked query
      val docs = Tables(s, dir).documents
      val train = substring(md5(concat(col("doc_id").cast("string"),
        lit(":"), lit("graft"))), 1, 4) < "e666"
      Curation.nbClassifierEval(docs, "text", "doc_id",
        col("lang") === "en", train)
    }),

    "t41_pr_curve" -> ((s, dir) => {
      // t39 swept over a threshold grid from ONE scoring pass — the
      // precision/recall curve a threshold tune reads (t39 prices the
      // chosen operating point; this shows what the others would cost)
      val docs = Tables(s, dir).documents
      val train = substring(md5(concat(col("doc_id").cast("string"),
        lit(":"), lit("graft"))), 1, 4) < "e666"
      Curation.nbPrCurve(docs, "text", "doc_id",
          col("lang") === "en", train, T41Thresholds)
        .orderBy("threshold")
    }),

    "t42_roc_auc" -> ((s, dir) => {
      // the ONE scalar a classifier comparison reads: exact
      // tie-corrected Mann–Whitney ROC-AUC over the held-out 4dp
      // log-odds — t39 prices one operating point, t41 a 7-point
      // grid; this ranks the model (integer rank sums, one division)
      val docs = Tables(s, dir).documents
      val train = substring(md5(concat(col("doc_id").cast("string"),
        lit(":"), lit("graft"))), 1, 4) < "e666"
      Curation.nbRocAuc(docs, "text", "doc_id",
        col("lang") === "en", train)
    }),

    "t43_source_cap" -> ((s, dir) => {
      // C4/Gopher's per-domain quota: keep at most 10 docs per source,
      // best first by t2 quality (4dp, id tie-break) — the curation
      // rung between dedup and mixing that stops a handful of
      // boilerplate-heavy domains from dominating the selection
      val scored = TextAnalysis.withQualityScore(Tables(s, dir).documents,
          "text", "quality")
        .select(col("source"), col("doc_id"), col("quality"))
      Curation.sourceCap(scored, "doc_id", "source", "quality", 10)
        .orderBy("grp", "rank")
    }),

    "t44_para_dedup" -> ((s, dir) => {
      // CCNet's first rung: strip repeated paragraphs INSIDE each doc
      // (keep first occurrence), map-only. The corpus text carries no
      // line structure, so the declared query PLANTS it
      // deterministically (the m5 pattern): each doc's tokens chunk
      // into 10-token paragraphs and the FIRST + MIDDLE paragraphs are
      // re-appended as within-doc duplicates the operator must strip —
      // the oracle replicates the plant, so the strip is under the gate
      Curation.paragraphDedup(plantedParagraphDocs(Tables(s, dir).documents),
          "text", "doc_id")
        .orderBy("doc_id")
    }),

    "c4_pipeline_full" -> ((s, dir) => {
      // the COMPLETE composed pipeline — c3 with round-11's rungs
      // slotted where production runs them: paragraph dedup FIRST
      // (t44's planted corpus, so the strip is non-vacuous and under
      // the gate), the per-source quota LAST before the split, quality
      // scored on the text that actually ships (post-scrub)
      Curation.curationPipelineFull(
          plantedParagraphDocs(Tables(s, dir).documents),
          "text", "doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    "t21_bigram_lm" -> ((s, dir) => {
      // interpolated bigram LM on the same t8 train split — the
      // word-order-sensitive upgrade of t18's unigram signal
      val docs = Tables(s, dir).documents
      val split = Curation.deterministicSplit(docs, "doc_id", "graft",
        Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)))
      TextAnalysis.lmScoreBigram(split.filter(col("split") === "train"), docs,
          "text", "doc_id")
        .orderBy("doc_id")
    }),

    "t17_bm25_search" -> ((s, dir) => {
      TextAnalysis.bm25Search(Tables(s, dir).documents, "text", "doc_id",
          Bm25Queries, k = 10)
        .orderBy("query_id", "rank")
    }),

    "r1_hybrid_fusion" -> ((s, dir) => {
      // HYBRID retrieval serving: reciprocal-rank fusion of t17's
      // lexical BM25 top-10 and an s1-shape exact-cosine vector
      // top-10 over the shared (query_id, doc_id, rank) contract —
      // the standard RAG-corpus serving combiner (each side misses
      // what the other catches). Vector probes are the embeddings of
      // vec_ids 0/100/200/300/400 remapped to the five BM25 query
      // ids; both legs are already oracle-checked alone, so the r1
      // oracle composes their SQL plus the fusion rollup
      val t = Tables(s, dir)
      val lex = TextAnalysis.bm25Search(t.documents, "text", "doc_id",
        Bm25Queries, k = 10)
      val probes = t.embeddings
        .filter(col("vec_id").isin(0L, 100L, 200L, 300L, 400L))
      val vec = Similarity.bruteForceTopK(t.embeddings, probes,
          "embedding", "vec_id", 10)
        .select((col("query_id") / 100).cast("long").as("query_id"),
          col("neighbor_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(lex.select("query_id", "doc_id", "rank"), vec)
        .orderBy("query_id", "fused_rank")
    }),

    "t19_vocab" -> ((s, dir) => {
      TextAnalysis.vocabStats(Tables(s, dir).documents, "text", "lang")
        .orderBy("grp")
    }),

    "t34_bpe_train" -> ((s, dir) => {
      // tokenizer CONSTRUCTION: learn the corpus's first 10 BPE merges
      // (t6 applies a segmentation; this trains the merge table). The
      // corpus is scanned once; every round runs on the persisted
      // word-frequency vocabulary
      TextAnalysis.bpeTrain(Tables(s, dir).documents, "text", merges = 10)
        .orderBy("step")
    }),

    "t37_unigram_lm" -> ((s, dir) => {
      // the OTHER production tokenizer trainer: unigram-LM
      // (SentencePiece-style) Viterbi hard-EM over a substring seed,
      // trained on the t8 train split — where t34's BPE merges grow
      // the vocabulary bottom-up, EM prunes an over-complete seed
      // top-down. The fixed 2-round EM TRAJECTORY (seed → segment →
      // recount → re-normalize, twice) is itself oracle-replicated
      val docs = Tables(s, dir).documents
      val train = substring(md5(concat(col("doc_id").cast("string"),
        lit(":"), lit("graft"))), 1, 4) < "e666"
      TextAnalysis.unigramLmTrain(docs.filter(train), "text")
        .orderBy("piece")
    }),

    "t40_unigram_prune" -> ((s, dir) => {
      // t37 with Kudo's TARGET-VOCABULARY shrink active: each EM
      // round keeps only the top max(vocabSize, ceil(n·shrink))
      // multi-char pieces by count — the knob a real tokenizer build
      // sets first, its pruning trajectory itself oracle-replicated
      // (the d21 principle: the derivation is under the gate)
      val docs = Tables(s, dir).documents
      val train = substring(md5(concat(col("doc_id").cast("string"),
        lit(":"), lit("graft"))), 1, 4) < "e666"
      TextAnalysis.unigramLmTrain(docs.filter(train), "text",
          vocabSize = 16, shrinkFactor = 0.75)
        .orderBy("piece")
    }),

    "t38_tokenizer_cost" -> ((s, dir) => {
      // the APPLY side of t37 (t35's role for t34): train the
      // unigram-LM vocabulary on the t8 train split, Viterbi-segment
      // EVERY doc's words under it, and account per doc — n_words,
      // n_pieces, UNK words (uncoverable by the trained model), and
      // the pieces-per-word ratio: the corpus's token cost under a
      // REAL trained tokenizer, the number packing (t9) and budget
      // (t27) decisions start from
      val docs = Tables(s, dir).documents
      val train = substring(md5(concat(col("doc_id").cast("string"),
        lit(":"), lit("graft"))), 1, 4) < "e666"
      TextAnalysis.tokenizerCost(docs, "text", "doc_id", train)
        .orderBy("doc_id")
    }),

    "t35_bpe_segment" -> ((s, dir) => {
      // the APPLY side: segment the corpus with the 10 learned merges
      // and roll up the piece vocabulary with corpus-weighted usage —
      // the train -> segment tokenizer loop end-to-end, on the SAME
      // persisted word table (corpus scanned once for both halves)
      TextAnalysis.bpeSegment(Tables(s, dir).documents, "text", merges = 10)
        .orderBy("piece")
    }),

    "t45_bpe_apply" -> ((s, dir) => {
      // the PERSISTED-MODEL tokenizer loop: fit the BPE merge table
      // on the t8 train split ONCE (bpeFitModel — merge rows + a
      // fit-config marker), then segment the FULL corpus (held-out
      // docs included) with the model as an INPUT — the
      // train-offline/apply-online split every production tokenizer
      // runs (t35 can only retrain-and-apply on one corpus). The
      // oracle replays fit-on-train + replay-merges-on-all, so
      // model-as-input ≡ refit is proven bit-for-bit at every SF
      val docs = Tables(s, dir).documents
      val train = substring(md5(concat(col("doc_id").cast("string"),
        lit(":"), lit("graft"))), 1, 4) < "e666"
      val model = TextAnalysis.bpeFitModel(docs.filter(train), "text",
        merges = 10)
      TextAnalysis.bpeSegmentWithModel(docs, "text", model)
        .orderBy("piece")
    }),

    "t46_unigram_apply" -> ((s, dir) => {
      // the same split for the unigram tokenizer: fit the vocabulary
      // on the t8 train split (unigramFitModel — trained rows + the
      // maxPieceLen/maxWordLen fit-config markers), price EVERY doc
      // against the persisted model (unigramSegmentWithModel). Same
      // numbers as t38 through the model-as-input path — the oracle
      // IS t38's refit-inline SQL, the strongest equivalence proof:
      // both paths must land on the same bits or the gate fails
      val docs = Tables(s, dir).documents
      val train = substring(md5(concat(col("doc_id").cast("string"),
        lit(":"), lit("graft"))), 1, 4) < "e666"
      val model = TextAnalysis.unigramFitModel(docs.filter(train), "text")
      TextAnalysis.unigramSegmentWithModel(docs, "text", "doc_id", model)
        .orderBy("doc_id")
    }),

    "t28_js_drift" -> ((s, dir) => {
      // distribution drift of source src0 vs the rest of the corpus —
      // the between-batches shift alarm
      TextAnalysis.distributionDrift(Tables(s, dir).documents, "text",
        col("source") === "src0", buckets = 4096)
    }),

    "t29_doc_entropy" -> ((s, dir) => {
      TextAnalysis.docEntropy(Tables(s, dir).documents, "text", "doc_id")
        .orderBy("doc_id")
    }),

    "t30_score_norm" -> ((s, dir) => {
      // per-language robust (median/IQR) normalization of the t2
      // quality signal — makes scores comparable across languages
      // before one global threshold/ranking consumes them
      val scored = TextAnalysis.withQualityScore(Tables(s, dir).documents,
          "text", "quality")
        .select(col("doc_id"), col("lang"), col("quality"))
      TextAnalysis.normalizeScores(scored, "doc_id", "lang", "quality")
        .select(col("id").as("doc_id"), col("grp").as("lang"),
          col("score").as("quality"), col("norm_score"))
        .orderBy("doc_id")
    }),

    "g2_triangles" -> ((s, dir) => {
      // per-vertex triangle count + clustering coefficient over the
      // embedding near-dup pair graph (d5's pairs at a looser 0.2
      // threshold so real cliques form) — degree-ordered
      // compact-forward, every triangle materialized exactly once
      val pairs = Dedup.embeddingNearDupPairs(Tables(s, dir).embeddings,
        "embedding", "vec_id", "label", threshold = 0.2)
      Graph.triangleStats(pairs, "id1", "id2")
        .orderBy("id")
    }),

    "t11_strat_sample" -> ((s, dir) => {
      Curation.stratifiedSample(Tables(s, dir).documents.select("doc_id", "source"),
          "doc_id", "source", "smp",
          Map("src0" -> 0.5, "src1" -> 0.25), defaultFraction = 0.1)
        .orderBy("doc_id")
    }),

    "t26_mix_sample" -> ((s, dir) => {
      Curation.mixtureSample(Tables(s, dir).documents.select("doc_id", "lang"),
          "doc_id", "lang", "mix",
          Map("en" -> 2, "de" -> 1, "es" -> 1, "fr" -> 1, "zh" -> 1))
        .orderBy("doc_id")
    }),

    "t27_token_budget" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScores(Tables(s, dir).documents,
        "text", "doc_id")
      Curation.tokenBudgetSelect(scored, "doc_id", "quality", "n_tokens",
          budgetTokens = 50000L)
        .select(col("id").as("doc_id"), col("q").as("quality"),
          col("tok").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // ----- multimodal -----
    "m1_binary_meta" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
        .withColumn("payload", encode(col("text"), "UTF-8"))
      Multimodal.binaryMeta(docs, "payload", "doc_id").orderBy("doc_id")
    }),

    "m2_binary_features" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
        .withColumn("payload", encode(col("text"), "UTF-8"))
      Multimodal.extractFeatures(docs, "payload", "doc_id")
        .select(col("doc_id"), col("n_bytes"), col("n_frames"), col("mean_byte"))
        .orderBy("doc_id")
    }),

    "m3_extract_records" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
        .withColumn("payload", encode(col("text"), "UTF-8"))
      Multimodal.extractRecords(docs, "payload", "doc_id",
          Multimodal.WhitespaceRecordParser)
        .orderBy("doc_id", "rec_idx")
    }),

    "q23_cube" -> ((s, dir) => {
      // q21's ROLLUP widened to the full CUBE lattice: all four
      // (type, hour) granularities in ONE Expand + one partial-agg
      // shuffle — the multi-granularity dashboard scan costs one pass
      // at any scale, not one scan per grouping set.
      val e = Tables(s, dir).events
        .withColumn("hb_ms", epochMs(date_trunc("hour", col("ts"))))
      e.cube(col("event_type"), col("hb_ms"))
        .agg(count(lit(1)).as("n"),
          num.fround(sum(col("value").cast("decimal(18,6)")).cast("double")
            / count(col("value")), 4).as("avg_value"),
          grouping(col("event_type")).cast("int").as("g_type"),
          grouping(col("hb_ms")).cast("int").as("g_hour"))
        .orderBy(col("g_type"), col("g_hour"), col("event_type"), col("hb_ms"))
    }),

    "t20_tfidf" -> ((s, dir) => {
      TextAnalysis.tfidfTopTerms(Tables(s, dir).documents, "text", "doc_id",
          k = 3)
        .orderBy("doc_id", "rank")
    }),

    "t22_ppl_bucket" -> ((s, dir) => {
      // t18's unigram-LM NLL scores binned into 10 value-buckets —
      // the perplexity-tier selection signal over the whole corpus
      val docs = Tables(s, dir).documents
      val split = Curation.deterministicSplit(docs, "doc_id", "graft",
        Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)))
      TextAnalysis.nllBuckets(
          TextAnalysis.lmScore(split.filter(col("split") === "train"), docs,
            "text", "doc_id"),
          buckets = 10)
        .orderBy("bucket")
    }),

    "d19_substring_dedup" -> ((s, dir) => {
      // OFFSET-INVARIANT sub-document dedup (Lee et al. 2022 over
      // winnowing anchors): d10's fixed 20-token chunks miss a copied
      // paragraph at a shifted offset; content-defined anchors select
      // the same grams wherever the passage lands
      Dedup.substringDedupStats(Tables(s, dir).documents, "text", "doc_id")
        .orderBy("doc_id")
    }),

    "d20_substring_strip" -> ((s, dir) => {
      // d19's ACTION side (the Lee et al. dedup step itself): excise
      // every duplicated span from the normalized text, first
      // occurrences kept whole — detect-then-remove as one operator
      Dedup.substringStrip(Tables(s, dir).documents, "text", "doc_id")
        .orderBy("doc_id")
    }),

    "d10_chunk_dedup" -> ((s, dir) => {
      Dedup.chunkDedupStats(Tables(s, dir).documents, "text", "doc_id",
          chunkTokens = 20)
        .orderBy("doc_id")
    }),

    "g1_pagerank" -> ((s, dir) => {
      // centrality over the chunk-sharing doc graph: which documents
      // are the canonical hubs everything else copies from — the
      // importance signal a curation pass samples by
      val docs = Tables(s, dir).documents
      Graph.pageRank(docs.select("doc_id"),
          Dedup.chunkShareEdges(docs, "text", "doc_id", chunkTokens = 20),
          iters = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "e1_fuzzy_names" -> ((s, dir) => {
      // typo-tolerant entity resolution over the part-name dictionary:
      // SymSpell delete-neighborhood candidates (recall 1.0 by
      // construction) + exact levenshtein verify
      Fuzzy.fuzzyNameJoin(Tables(s, dir).part, "p_name", maxDist = 2)
        .orderBy("name_a", "name_b")
    }),

    "e2_entity_resolve" -> ((s, dir) => {
      // the composed resolution chain: fuzzy pairs -> connected
      // components -> canonical spelling (max count, tie to smallest
      // name) for EVERY distinct name — the mapping an entity-merge
      // pass applies
      Fuzzy.entityResolve(Tables(s, dir).part, "p_name", maxDist = 2)
        .orderBy("name")
    }),

    "c1_kmeans" -> ((s, dir) => {
      Cluster.kmeansSummary(Tables(s, dir).embeddings, "embedding", "vec_id",
          k = 4, iters = 1)
        .orderBy("cluster_id")
    }),

    "c2_cluster_sample" -> ((s, dir) => {
      // cluster-balanced diversity sampling: exactly 25 per k-means
      // cluster by deterministic hash rank, through the bounded
      // graft_topk aggregate (window fallback extension-less)
      Cluster.clusterSample(Tables(s, dir).embeddings, "embedding", "vec_id",
          k = 4, nPer = 25, iters = 1)
        .orderBy("cluster_id", "rank")
    }),

    "d11_semdedup" -> ((s, dir) => {
      // SemDeDup: k-means clusters as the label-less blocking for the
      // exact-cosine pair join — near-dups land together because they
      // are geometrically close (contrast d8/d9's random-projection
      // blocking). Declared at SINGLE-ASSIGNMENT blocking over the
      // count-derived k — the probe-trade FLOOR (each point blocks
      // only into its home cluster: half the join volume of d21's
      // 2-probe headline, at the measured boundary-miss recall the
      // semDedupPairs scaladoc prices). Re-scoped in r14: the former
      // pinned k=4 blocked the corpus into 4 giant clusters whose
      // pair join measured ×103 at 10× rows (the sf1 board's worst
      // ratio) — it is demoted to the ClusterSpec A/B; both declared
      // SemDeDup forms now derive k from corpus size, so block sizes
      // hold as the corpus grows. The k-derivation, the fit, and the
      // home-block pair join are all oracle-replicated.
      Cluster.semDedupPairsAuto(Tables(s, dir).embeddings, "embedding",
          "vec_id", threshold = 0.4, targetBlock = 512, iters = 1,
          blockProbes = 1)
        .orderBy("id1", "id2")
    }),

    "d21_semdedup_auto" -> ((s, dir) => {
      // d11 with k derived from corpus size (k = least(ceil(n/512),
      // 4096)): block sizes — and so the within-block pair join — stay
      // constant as the corpus grows, where d11's pinned k=4 is
      // quadratic in disguise (SURVEY §6's d12-at-sf1 analysis). The
      // kCap bounds the moved quadratic term (the O(n·k·dim)
      // assignment scan — see semDedupPairsAuto's Scaladoc; beyond it
      // the declared escape hatch is d8/d9's LSH blocking); the
      // derived knob INCLUDING the cap is oracle-checked at every SF
      // (the s4/d9 precedent)
      Cluster.semDedupPairsAuto(Tables(s, dir).embeddings, "embedding",
          "vec_id", threshold = 0.4, targetBlock = 512, iters = 1)
        .orderBy("id1", "id2")
    }),

    "q24_pivot" -> ((s, dir) => {
      // PIVOT (crosstab): per-hour event counts, one column per event
      // type. The value list is EXPLICIT — at scale an inferred pivot
      // needs a distinct-scan job first and makes the schema
      // data-dependent; fixing it keeps one partial-agg pass and a
      // deterministic schema. Empty cells surface as 0, not null.
      val types = Seq("click", "error", "purchase", "signup", "view")
      val e = Tables(s, dir).events
        .withColumn("hb_ms", epochMs(date_trunc("hour", col("ts"))))
      val pivoted = e.groupBy("hb_ms").pivot("event_type", types)
        .agg(count(lit(1)))
      types.foldLeft(pivoted)((df, t) =>
          df.withColumn(t, coalesce(col(t), lit(0L))))
        .orderBy("hb_ms")
    }),

    "d12_semdedup_prune" -> ((s, dir) => {
      // the full SemDeDup pipeline as ONE job graph: semantic pair
      // generation → transitive clusters → a keep/drop verdict
      // for EVERY corpus row (untouched docs are their own singleton
      // component, keep = 1) — the composed chain that actually prunes
      // a corpus, not just lists its near-dup pairs. Re-pointed in r14
      // at d21's count-derived-k 2-probe blocking (VERDICT r13 #1):
      // the former pinned k=4 made this the sf1 board's single most
      // expensive query (94.5 s, ×24 at 10× rows) with the scale-safe
      // blocking already in-repo — the prune chain now rides it.
      val embs = Tables(s, dir).embeddings
      val pairs = Cluster.semDedupPairsAuto(embs, "embedding", "vec_id",
        threshold = 0.4, targetBlock = 512, iters = 1)
      val verdict = Graph.clusterDedup(pairs, "id1", "id2")
      embs.select(col("vec_id"))
        .join(verdict, col("vec_id") === col("id"), "left_outer")
        .select(col("vec_id").as("id"),
          coalesce(col("component"), col("vec_id")).as("component"),
          coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
          coalesce(col("keep"), lit(1)).as("keep"))
        .orderBy("id")
    }),

    "q25_range_join" -> ((s, dir) => {
      // pure range-predicate join (NO equi key): every error event
      // opens a 10-minute incident window; count the events (and
      // distinct users) active inside each window, across ALL users.
      // Naively this is a nested-loop theta-join; Ranges.rangeJoinBinned
      // turns it into a hash equi-join on a derived bin key.
      val t = Tables(s, dir)
      val ev = t.events.select(
        unix_millis(col("ts")).as("t_ms"), col("user_id"))
      val win = t.events.filter(col("event_type") === "error")
        .select(col("event_id").as("incident_id"),
          unix_millis(col("ts")).as("start_ms"))
        .withColumn("end_ms", col("start_ms") + 600000L)
      Ranges.rangeJoinBinned(ev, "t_ms", win, "start_ms", "end_ms",
          binWidth = 600000L)
        .groupBy("incident_id", "start_ms")
        .agg(count(lit(1)).as("n_events"),
          countDistinct("user_id").as("n_users"))
        .orderBy("incident_id", "start_ms")
    }),

    "q26_zorder" -> ((s, dir) => {
      // Morton/Z-order key over the two access paths (user, minute):
      // per-z-bucket occupancy + z extents — the key the z-ordered
      // layout sorts by (Sources.writeZOrdered), pure integer
      // shift/mask arithmetic, bit-identical in any engine
      val e = Tables(s, dir).events
        .withColumn("ms", epochMs(col("ts")))
        .withColumn("u16", pmod(col("user_id"), lit(65536L)))
        .withColumn("m16", pmod(expr("ms div 60000"), lit(65536L)))
        .withColumn("z", num.zValue(col("u16"), col("m16"), 16))
      e.withColumn("z_bucket", expr("z div 65536"))
        .groupBy("z_bucket")
        .agg(count(lit(1)).as("n_events"),
          min("z").as("z_min"), max("z").as("z_max"))
        .orderBy("z_bucket")
    }),

    "q27_scd2" -> ((s, dir) => {
      // SCD type-2 history build: consecutive same-type observations
      // per user collapse into versioned effective intervals
      // [valid_from, valid_to), valid_to NULL on the current version
      val e = Tables(s, dir).events.select(col("user_id"),
        col("event_type"), unix_millis(col("ts")).as("ts_ms"), col("event_id"))
      Enrich.scd2History(e, Seq("user_id"), "event_type", "ts_ms",
          tieCols = Seq("event_id"))
        .orderBy("user_id", "version")
    }),

    "q28_funnel" -> ((s, dir) => {
      // strictly-ordered conversion funnel view→click→purchase per
      // user: stage k = earliest stage-k event strictly after stage
      // k−1 (min-chaining; one shuffle — the chained windows and the
      // final collapse share the user_id partitioning)
      val e = Tables(s, dir).events.select(col("user_id"),
        col("event_type"), epochMs(col("ts")).as("ts_ms"))
      Funnel.stages(e, "user_id", "event_type", "ts_ms",
          Seq("view", "click", "purchase"))
        .orderBy("user_id")
    }),

    "q29_json_props" -> ((s, dir) => {
      // typed from_json extraction of the props payload + per-type
      // numeric profile — map-only parse, one partial-agg shuffle
      Enrich.jsonFieldProfile(Tables(s, dir).events, "props",
          "k BIGINT", "k", "event_type")
        .orderBy("grp")
    }),

    "q31_pit_join" -> ((s, dir) => {
      // point-in-time lookup over the q27 SCD2 history: every event
      // recovers the state version in effect at its own timestamp —
      // equi-join on user_id with the interval bound as a residual
      // condition, never a range join; each fact matches <= 1 version
      val e = Tables(s, dir).events.select(col("user_id"),
        col("event_type"), unix_millis(col("ts")).as("ts_ms"), col("event_id"))
      val history = Enrich.scd2History(e, Seq("user_id"), "event_type",
        "ts_ms", tieCols = Seq("event_id"))
      val facts = Tables(s, dir).events.select(col("event_id"),
        col("user_id"), unix_millis(col("ts")).as("ts_ms"))
      Enrich.pitJoin(facts, history, Seq("user_id"), "ts_ms")
        .select(col("event_id"), col("user_id"), col("ts_ms"),
          col("event_type").as("state"), col("version"))
        .orderBy("event_id")
    }),

    "q32_rate_anomaly" -> ((s, dir) => {
      // rolling z-score spike/drop detection on per-minute event rates
      // — integer window sums make the score engine-exact; the window
      // runs over the minute ROLLUP, never the event stream
      Enrich.rateAnomaly(Tables(s, dir).events, "ts", "event_type",
          windowRows = 20, minPoints = 5, zThreshold = 3.0)
        .orderBy("grp", "minute_ms")
    }),

    "m4_binary_dedup" -> ((s, dir) => {
      // byte-exact payload dedup — the first rung of multimodal dedup
      // (same image under ten URLs); only the 32-hex digest shuffles
      val docs = Tables(s, dir).documents
        .withColumn("payload", encode(col("text"), "UTF-8"))
      Multimodal.payloadDedup(docs, "payload", "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "m5_payload_neardup" -> ((s, dir) => {
      // PERCEPTUAL near-dup for payloads — the rung m4's byte-exact
      // md5 cannot see: CDC chunk signatures + Jaccard verify. The
      // corpus carries a deterministic "re-encode" (container header
      // prepended + a 30-byte excision) of every 20th long doc's
      // payload under ids +1e9; every variant must pair with its
      // source while byte-exact m4 pairs none of them
      // ONE documents scan: each row explodes into its payload plus
      // (for every 20th long doc) the planted re-encode — the union
      // form cost a second corpus scan per consumer (VERDICT r08 #5)
      val base = Tables(s, dir).documents
      val variant = struct(
        (col("doc_id") + lit(1000000000L)).as("doc_id"),
        encode(concat(lit("HDRv2 q50 "), substring(col("text"), 1, 100),
          expr("substring(text, 131)")), "UTF-8").as("payload"))
      val rows = base.select(explode(when(
          col("doc_id") % 20 === 0 && col("n_chars") >= 400,
          array(struct(col("doc_id"), encode(col("text"), "UTF-8")
            .as("payload")), variant))
        .otherwise(array(struct(col("doc_id"), encode(col("text"), "UTF-8")
          .as("payload"))))).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.payload").as("payload"))
      Multimodal.payloadNearDupPairs(rows, "payload", "doc_id")
        .orderBy("id1", "id2")
    }),

    "q34_active_users" -> ((s, dir) => {
      // DAU/WAU/stickiness: sliding-window distinct users WITHOUT
      // window distinct state — bounded x7 explode over the
      // (user, day) dedup, then plain partial-agg counts
      Enrich.activeUsers(Tables(s, dir).events, "ts", "user_id")
        .orderBy("day_ms")
    }),

    "q36_rollup_merge" -> ((s, dir) => {
      // incremental view maintenance: history and delta roll up
      // SEPARATELY into mergeable state (count + exact-decimal sum),
      // merge by addition, serve-time derivations on the merged
      // state — oracle = the single-pass rollup of everything, so
      // merge(rollup(A), rollup(B)) == rollup(A ∪ B) is cell-checked
      val e = Tables(s, dir).events
      val cutoff = 1705363200000L // 2024-01-16 00:00 UTC
      // null-COMPLETE split: unix_millis(null) is null, so a bare
      // `< / >=` pair would drop null-ts rows from BOTH slices while
      // the single-pass oracle keeps them in a null-hour group
      val hist = e.filter(unix_millis(col("ts")) < cutoff || col("ts").isNull)
      val delta = e.filter(unix_millis(col("ts")) >= cutoff)
      Enrich.mergeRollups(Seq(
          Enrich.hourlyRollupState(hist, "ts", "event_type", "value"),
          Enrich.hourlyRollupState(delta, "ts", "event_type", "value")))
        .orderBy("event_type", "hb_ms")
    }),

    "q38_spatial_join" -> ((s, dir) => {
      // distance-bounded pair finding via 3x3 grid-cell blocking
      // (recall 1.0 by the Chebyshev bound — the oracle is
      // mechanism-independent brute force); q8's synthetic lattice
      // coords, every 5th customer
      val c = Tables(s, dir).customer
        .filter(col("c_custkey") % 5 === 0)
        .withColumn("lat", lit(geo.TownCenterLat) +
          (col("c_custkey") % 21 - lit(10)).cast("double") * lit(0.01))
        .withColumn("lon", lit(geo.TownCenterLon) +
          (floor(col("c_custkey") / 21.0).cast("bigint") % 21 - lit(10))
            .cast("double") * lit(0.01))
      Spatial.withinDistancePairs(c, "c_custkey", col("lat"), col("lon"),
          maxDist = 0.025)
        .orderBy("id1", "id2")
    }),

    "q37_histogram" -> ((s, dir) => {
      // binned distribution per type: bounded stats broadcast back,
      // map-side bin, partial agg on the (group, bin) grid; empty
      // bins kept as 0 via the groups x bins frame
      Enrich.histogram(Tables(s, dir).events, "event_type", "value",
          bins = 20)
        .orderBy("grp", "bin")
    }),

    "q35_value_profile" -> ((s, dir) => {
      // grouped describe(): decimal-exact mean/std over 4dp-rounded
      // values + interpolated quantiles, one partial-agg shuffle
      Enrich.numericProfile(Tables(s, dir).events, "event_type", "value")
        .orderBy("grp")
    }),

    "q33_retention" -> ((s, dir) => {
      // cohort = first-purchase day; activity = any event; the
      // (cohort, offset) grid prices as two partial aggs + one
      // co-partitioned user join — never a per-cohort rescan
      Enrich.retentionCohorts(Tables(s, dir).events, "ts", "user_id",
          col("event_type") === "purchase")
        .orderBy("cohort_ms", "offset_days")
    }),

    "d17_containment" -> ((s, dir) => {
      // DIRECTIONAL subset-dup detection: containment of the smaller
      // gram set — the signal symmetric Jaccard (d4) is blind to when
      // a doc is quoted whole inside a much larger page
      Dedup.containmentPairs(Tables(s, dir).documents, "text", "doc_id",
          col("source"), threshold = 0.5)
        .orderBy("id_sub", "id_sup")
    }),

    "g3_label_prop" -> ((s, dir) => {
      // deterministic synchronous label propagation over the same pair
      // graph as g2 — community structure FINER than d7's components:
      // LPA splits a hub-fused hairball at its sparse cuts where CC
      // merges everything reachable
      val pairs = Dedup.embeddingNearDupPairs(Tables(s, dir).embeddings,
        "embedding", "vec_id", "label", threshold = 0.2)
      Graph.labelPropagation(pairs, "id1", "id2", iters = 3)
        .orderBy("id")
    }),

    "g4_cc_incremental" -> ((s, dir) => {
      // the daily-crawl shape for the CLUSTER step: base components
      // from ~70% of the near-dup edges, the rest merged in
      // incrementally (contracted delta graph + broadcast relabel —
      // the base labeling is scanned, never re-iterated). The oracle
      // recomputes CC FROM SCRATCH over all edges, so the gate proves
      // incremental == full recompute
      val pairs = Dedup.embeddingNearDupPairs(Tables(s, dir).embeddings,
          "embedding", "vec_id", "label", 0.35)
        .localCheckpoint(true) // both splits read it — never re-pair
      val isOld = pmod(col("id1") * 31 + col("id2"), lit(10)) < 7
      val base = Graph.connectedComponents(pairs.where(isOld), "id1", "id2")
      Graph.incrementalComponents(base, "id", "comp",
          pairs.where(!isOld), "id1", "id2")
        .select(col("id"), col("comp").as("component"))
        .orderBy("id")
    }),

    "g5_cc_distributed" -> ((s, dir) => {
      // g4's computation with the driver size gate OFF
      // (driverThreshold = 0): the oracle twin that keeps the
      // DISTRIBUTED CC recurrence (block-unrolled min-label
      // propagation + contracted delta merge) oracle-checked at SFs
      // where the ≤64Ki-edge gate otherwise always routes to the
      // driver union-find. Same rows as g4 by construction (min-label
      // CC has a unique fixed point); shares g4's oracle SQL.
      val pairs = Dedup.embeddingNearDupPairs(Tables(s, dir).embeddings,
          "embedding", "vec_id", "label", 0.35)
        .localCheckpoint(true)
      val isOld = pmod(col("id1") * 31 + col("id2"), lit(10)) < 7
      val base = Graph.connectedComponents(pairs.where(isOld), "id1", "id2",
        driverThreshold = 0)
      Graph.incrementalComponents(base, "id", "comp",
          pairs.where(!isOld), "id1", "id2", driverThreshold = 0)
        .select(col("id"), col("comp").as("component"))
        .orderBy("id")
    }),

    "g6_pagerank_distributed" -> ((s, dir) => {
      // g1's computation with the driver size gate OFF — the oracle
      // twin for the DISTRIBUTED PageRank recurrence (per-round
      // contribution join + decimal-exact partial-agg sum). Same rows
      // as g1 by construction (the driver recurrence replicates the
      // engine arithmetic step-for-step); shares g1's oracle SQL.
      val docs = Tables(s, dir).documents
      Graph.pageRank(docs.select("doc_id"),
          Dedup.chunkShareEdges(docs, "text", "doc_id", chunkTokens = 20),
          iters = 3, driverThreshold = 0)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "s9_range_search" -> ((s, dir) => {
      // radius query: ALL neighbors above a cosine floor — a pure map
      // over the corpus scan, no ranking state at all
      val emb = Tables(s, dir).embeddings
      val probes = emb.filter(col("vec_id") % 100 === 0)
      Similarity.rangeSearch(emb, probes, "embedding", "vec_id", 0.25)
        .orderBy("query_id", "neighbor_id")
    }),

    "s10_knn_graph" -> ((s, dir) => {
      // corpus-wide top-5 neighbor graph over 4-BAND corpus-size-
      // derived LSH blocking — the economy end of the band-count
      // trade (s11's 6-band auto is the recall headline; same knob
      // pairing as d8/d9). Re-scoped in r14: the former pinned
      // 24-plane layout measured ×22 at 10× rows and is demoted to a
      // spec A/B; the derived bits hold bucket sizes as the corpus
      // grows. Candidate generation AND the symmetric per-vertex
      // ranking are both oracle-replicated.
      Similarity.knnGraph(Tables(s, dir).embeddings, "embedding", "vec_id",
          k = 5, dim = 64, bands = 4)
        .orderBy("id", "rank")
    }),

    "s11_knn_auto" -> ((s, dir) => {
      // s10 with CORPUS-SIZE-DERIVED band bits — the d9 analog: the
      // scale knob itself is oracle-checked (incl. at sf1, where the
      // pinned layout measured 13x slower)
      Similarity.knnGraph(Tables(s, dir).embeddings, "embedding", "vec_id",
          k = 5, dim = 64, bands = 6)
        .orderBy("id", "rank")
    }),

    "t31_weighted_sample" -> ((s, dir) => {
      // quality-weighted per-language top-k sample: deterministic A-ES
      // order under a hash-derived u — inclusion ∝ weight, no RNG
      val scored = TextAnalysis.withQualityScore(Tables(s, dir).documents,
          "text", "quality")
        .select(col("doc_id"), col("lang"), col("quality"))
      Curation.weightedSample(scored, "doc_id", "lang", "quality", "ws", 20)
        .orderBy("grp", "rank")
    }),

    "t33_pmi" -> ((s, dir) => {
      // windowed co-occurrence PMI: map-only pair formation, partial
      // aggs, minCount prune before the unigram joins, TakeOrdered
      TextAnalysis.pmiPairs(Tables(s, dir).documents, "text",
          window = 3, minCount = 5L, topN = 50)
        .orderBy(col("pmi").desc, col("a"), col("b"))
    }),

    "t32_source_overlap" -> ((s, dir) => {
      // source-versus-source n-gram containment matrix — the corpus
      // audit that catches mirrored/re-crawled sources before mixing
      TextAnalysis.sourceOverlap(Tables(s, dir).documents, "text", "source")
        .orderBy("grp_a", "grp_b")
    })
  )

  // ---------------------------------------------------------------
  // DuckDB oracle SQL — same table names, same column names, same
  // rounding. Every declared query has an oracle. d2's and d3's
  // oracles are EXACT all-pairs sets (shingle Jaccard / fingerprint
  // hamming) — they assert banding recall 1.0 at the test SF on top
  // of value parity (d3's fingerprints are reproducible because token
  // hashes are the portable md5-fold, hashing.portableElementHashes).
  // s2/s3 oracles replicate the bucketing (hyperplane literals /
  // portable affine-hash centroid sample), so candidate generation
  // itself is oracle-checked.
  // ---------------------------------------------------------------

  /** Hyperplanes as DuckDB list literals — Double.toString is
    * shortest-round-trip, so DuckDB parses bit-identical values.
    */
  private def planeLits(numPlanes: Int): Seq[String] =
    ops.Similarity.hyperplanes(numPlanes, 64)
      .map(_.map(_.toString).mkString("[", ",", "]"))
  /** s2's 16 planes; d8 uses the 24-plane/6-band dedup layout. */
  private lazy val planeSqlLits: Seq[String] = planeLits(16)

  /** SQL term reconstructing the hyperplane signature bit-for-bit. */
  private def sigTermsSql(numPlanes: Int): String =
    planeLits(numPlanes).zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(v, $p) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** Shared SQL fragment: normalized text (must mirror text.normalize). */
  private val normSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** Shared winnowing CTE chain (n → sel, k=8 / w=4): per-position
    * base-31 mod-1e9+7 8-gram hashes, w=4 windows, rightmost-min
    * selection — mirrors [[graft.ops.TextAnalysis.winnowFingerprints]]
    * exactly. Used by BOTH the t15 gate and d19's dup detection, so
    * the two oracles can never assert different selections.
    */
  private lazy val winnowSelCtes: String =
    s"""n AS (SELECT doc_id, $normSql AS norm FROM documents),
          c AS (SELECT doc_id,
              CASE WHEN length(norm) = 0 THEN CAST([] AS BIGINT[])
                   ELSE list_transform(range(1, length(norm) + 1),
                          i -> CAST(unicode(substr(norm, i, 1)) AS BIGINT)) END AS codes
            FROM n),
          g AS (SELECT doc_id,
              CASE WHEN len(codes) < 8 THEN CAST([] AS BIGINT[])
                   ELSE list_transform(range(1, len(codes) - 6),
                          i -> list_reduce(list_slice(codes, i, i + 7),
                                 (acc, x) -> (acc * 31 + x) % 1000000007)) END AS gh
            FROM c),
          w2 AS (SELECT doc_id, gh, greatest(len(gh) - 3, least(len(gh), 1)) AS nw FROM g),
          w3 AS (SELECT doc_id,
              list_transform(range(1, nw + 1), s -> list_slice(gh, s, s + 3)) AS wins
            FROM w2 WHERE nw >= 1),
          sel AS (SELECT doc_id,
              list_transform(range(1, len(wins) + 1), s ->
                {'pos': CAST(s + len(wins[s])
                         - list_position(list_reverse(wins[s]), list_min(wins[s])) AS BIGINT),
                 'fp': list_min(wins[s])}) AS fps
            FROM w3)"""
  /** DuckDB's regexp_split_to_array(trim(''), '\s+') yields [''] (one
    * empty token) where text.tokens('') yields [] — guard to match.
    */
  /** Shared by d6 and d13: the bloom prefilter is output-invariant. */
  private lazy val decontamOracleSql =
    s"""WITH s AS (
          SELECT doc_id, text,
            CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 4) < 'f333'
                 THEN 'train' ELSE 'eval' END AS split
          FROM documents WHERE doc_id IS NOT NULL),
        t AS (SELECT doc_id, split, ${toksSql(normSql)} AS toks FROM s),
        g AS (SELECT doc_id, split,
               list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS grams
              FROM t),
        e AS (SELECT doc_id, split, unnest(grams) AS gram FROM g),
        rare AS (SELECT gram FROM e GROUP BY gram HAVING count(*) <= 10),
        r AS (SELECT e.doc_id, e.split, e.gram FROM e JOIN rare USING (gram)),
        p AS (SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
                count(*) AS n_shared
              FROM r a JOIN r b ON a.gram = b.gram
                AND a.split = 'train' AND b.split = 'eval'
              GROUP BY 1, 2)
        SELECT train_id, eval_id, n_shared FROM p
        WHERE n_shared >= 2 ORDER BY train_id, eval_id"""

  private def toksSql(src: String) =
    s"(CASE WHEN trim($src) = '' OR $src IS NULL THEN CAST([] AS VARCHAR[]) " +
    s"ELSE regexp_split_to_array(trim($src), '\\s+') END)"

  /** t34's oracle: k unrolled BPE rounds over the word-frequency
    * table. The merge application is the SAME separator-string
    * `replace` the Spark side runs (chr(1) boundaries, one consumed
    * from each side per match), so the full merge TRAJECTORY — picks,
    * tie-breaks, greedy overlap resolution — replicates, not just the
    * counts. MATERIALIZED per round (the g1 lesson: DuckDB would
    * otherwise re-inline the whole chain per round). The w-step joins
    * its merge row with LEFT JOIN ON TRUE, not a cross join: when the
    * vocabulary runs dry at round j < k, m_j is EMPTY and a cross join
    * would zero every later w stage (t35's rollup would read an empty
    * w_k while the Spark side correctly returns the partially-merged
    * pieces); the left join keeps seq unchanged instead (NULL merge →
    * replace yields NULL → coalesce back to seq).
    */
  /** The shared BPE merge-LEARNING CTE chain (word table w0 over
    * `documents` restricted by `where`, then k rounds of pair-count →
    * argmax merge m$step → sequence rewrite w$step) — one definition
    * feeding the t34 (merge table), t35 (segment rollup) and t45
    * (train-split fit + full-corpus apply) oracles, so the three
    * gates can never assert different training trajectories.
    */
  private def bpeChainCtes(k: Int, where: String = ""): String = {
    val S1 = "chr(1)"
    val S2 = "chr(1)||chr(1)"
    val sb = new StringBuilder(
      s"""w0 AS MATERIALIZED (
            SELECT count(*) AS freq,
              $S2 || array_to_string(list_transform(range(1, length(w) + 1),
                i -> substr(w, i, 1)), $S2) || $S2 AS seq
            FROM (SELECT unnest(${toksSql(normSql)}) AS w FROM documents$where)
            WHERE length(w) > 0
            GROUP BY w)""")
    for (step <- 1 to k) {
      val prev = s"w${step - 1}"
      sb.append(s""",
          p$step AS MATERIALIZED (
            SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
            FROM (SELECT freq, list_filter(string_split(seq, $S2),
                    x -> length(x) > 0) AS syms
                  FROM $prev),
                 LATERAL (SELECT unnest(range(1, len(syms))) AS i)
            GROUP BY 1, 2),
          m$step AS MATERIALIZED (
            SELECT $step AS step, l, r, cnt FROM p$step
            ORDER BY cnt DESC, l, r LIMIT 1),
          w$step AS MATERIALIZED (
            SELECT freq, coalesce(replace(seq, $S1||l||$S2||r||$S1, $S1||l||r||$S1),
                                  seq) AS seq
            FROM $prev LEFT JOIN m$step ON TRUE)""")
    }
    sb.toString
  }

  private def bpeOracleSql(k: Int): String =
    s"""WITH ${bpeChainCtes(k)}
          """ + (1 to k).map(s =>
      s"""SELECT CAST(step AS INTEGER) AS step, l AS "left", r AS "right", cnt AS pair_count FROM m$s""")
      .mkString(" UNION ALL ") + " ORDER BY step"

  /** t35's oracle: t34's k-round chain, then the pieces of the final
    * sequences rolled up corpus-weighted (same split + filter the
    * Spark side runs).
    */
  private def bpeSegmentOracleSql(k: Int): String = {
    val S2 = "chr(1)||chr(1)"
    s"""WITH ${bpeChainCtes(k)}
          SELECT piece, CAST(sum(freq) AS BIGINT) AS n_occurrences
          FROM (SELECT freq, unnest(list_filter(string_split(seq, $S2),
                  x -> length(x) > 0)) AS piece
                FROM w$k)
          GROUP BY piece ORDER BY piece"""
  }

  /** t45's oracle: learn the merge chain on the TRAIN-split word
    * table (`where`), then REPLAY the learned merges m1..mk in step
    * order over the FULL corpus's word table (a0..a$k) and roll up
    * the piece vocabulary — the oracle-side replication of
    * fit-on-A/apply-with-model, proving the engine's persisted-model
    * path lands on the refit trajectory's exact bits.
    */
  private def bpeApplyOracleSql(k: Int, where: String): String = {
    val S1 = "chr(1)"
    val S2 = "chr(1)||chr(1)"
    val apply = (1 to k).map { step =>
      s"""a$step AS MATERIALIZED (
            SELECT freq, coalesce(replace(seq, $S1||l||$S2||r||$S1, $S1||l||r||$S1),
                                  seq) AS seq
            FROM a${step - 1} LEFT JOIN m$step ON TRUE)"""
    }.mkString(",\n          ")
    s"""WITH ${bpeChainCtes(k, where)},
          a0 AS MATERIALIZED (
            SELECT count(*) AS freq,
              $S2 || array_to_string(list_transform(range(1, length(w) + 1),
                i -> substr(w, i, 1)), $S2) || $S2 AS seq
            FROM (SELECT unnest(${toksSql(normSql)}) AS w FROM documents)
            WHERE length(w) > 0
            GROUP BY w),
          $apply
          SELECT piece, CAST(sum(freq) AS BIGINT) AS n_occurrences
          FROM (SELECT freq, unnest(list_filter(string_split(seq, $S2),
                  x -> length(x) > 0)) AS piece
                FROM a$k)
          GROUP BY piece ORDER BY piece"""
  }

  /** The t8 train-split predicate as SQL (shared by the t37/t38/t40
    * vocab chain and the t45/t46 model-apply oracles).
    */
  private val trainWhereSql: String =
    """ WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 4) < 'e666'"""

  /** d22's oracle: the WHOLE banding-recall chain digit-for-digit —
    * d15's fingerprint-keyed sample, portable 60-bit md5-fold shingle
    * hashes, the ((2i+1)·(h mod P) + i+1) mod P minhash slots
    * (P = 2³¹−1, P sentinel on empty sets), 0-seeded 65599-fold band
    * keys over `numPerm/bands` consecutive slots, the candidate
    * equi-join with d2's lossless size prefilter, brute-force
    * exact-Jaccard truth on the same distinct-hash sets, and the
    * recall rollup. Candidate generation — the banding mechanism
    * itself — is what the gate checks.
    */
  private def bandingRecallOracleSql(numPerm: Int, bands: Int,
                                     threshold: Double,
                                     sampleHex: String): String = {
    val r = numPerm / bands
    s"""WITH prep AS (
            SELECT doc_id, $normSql AS nrm FROM documents),
          sampled AS (
            SELECT doc_id,
              list_sort(list_distinct(list_transform(
                CASE WHEN length(nrm) >= 5
                     THEN list_distinct(list_transform(range(1, length(nrm) - 3),
                            i -> substr(nrm, i, 5)))
                     ELSE CAST([] AS VARCHAR[]) END,
                s -> list_reduce(list_transform(range(1, 16), i ->
                       CAST(strpos('0123456789abcdef', substr(md5(s), i, 1)) - 1 AS BIGINT)),
                     (acc, d) -> acc * 16 + d)))) AS h
            FROM prep
            WHERE substr(md5(md5(nrm) || ':graft'), 1, 4) < '$sampleHex'
              AND length(nrm) >= 5),
          sig AS (
            SELECT doc_id, len(h) AS n,
              list_transform(range(0, $numPerm), i ->
                CASE WHEN len(h) = 0 THEN CAST(2147483647 AS BIGINT)
                     ELSE list_min(list_transform(h, hv ->
                       ((2*i + 1) * (hv % 2147483647) + (i + 1)) % 2147483647)) END) AS sg
            FROM sampled),
          bb AS (
            SELECT doc_id, n, b,
              list_reduce(
                list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(b * $r + 1, b * $r + $r + 1), j -> sg[j])),
                (acc, s) -> (acc * 65599 + s) % 2147483647) AS bk
            FROM sig, LATERAL (SELECT unnest(range(0, $bands)) AS b)),
          cand AS (
            SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
            FROM bb a JOIN bb c ON a.b = c.b AND a.bk = c.bk
              AND a.doc_id < c.doc_id
            WHERE CAST(least(a.n, c.n) AS DOUBLE)
              >= CAST(greatest(a.n, c.n) AS DOUBLE) * $threshold),
          tp AS (
            SELECT a.doc_id AS id1, c.doc_id AS id2
            FROM sampled a JOIN sampled c ON a.doc_id < c.doc_id
            WHERE CAST(least(len(a.h), len(c.h)) AS DOUBLE)
                >= CAST(greatest(len(a.h), len(c.h)) AS DOUBLE) * $threshold
              AND floor((CASE
                    WHEN len(a.h) + len(c.h) - len(list_intersect(a.h, c.h)) = 0 THEN 0
                    ELSE CAST(len(list_intersect(a.h, c.h)) AS DOUBLE)
                         / (len(a.h) + len(c.h) - len(list_intersect(a.h, c.h))) END)
                  * 10000 + 0.5) / 10000 >= $threshold),
          hit AS (SELECT count(*) AS nh FROM tp JOIN cand USING (id1, id2))
          SELECT (SELECT count(*) FROM sampled) AS sample_docs,
            (SELECT count(*) FROM tp) AS n_true_pairs,
            (SELECT count(*) FROM cand) AS n_candidates,
            (SELECT nh FROM hit) AS n_banded_true,
            CASE WHEN (SELECT count(*) FROM tp) = 0 THEN NULL
                 ELSE floor(CAST((SELECT nh FROM hit) AS DOUBLE)
                      / (SELECT count(*) FROM tp) * 10000 + 0.5) / 10000 END AS recall"""
  }

  /** t17's fixed query set, shared by the Spark query and the oracle
    * (q4 has terms absent from the corpus: df=0 terms contribute 0).
    */
  private val Bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "spark window merge",
    1L -> "customer join filter",
    2L -> "vector stream",
    3L -> "slow scan big table",
    4L -> "quantum flux data")

  private def bm25QueriesValuesSql: String =
    Bm25Queries.map { case (id, q) => s"($id, '$q')" }.mkString(", ")

  /** t17's BM25 chain as CTEs ending in `lexr` (query_id, doc_id,
    * score, rank) — ONE definition shared by the t17 oracle and the
    * r1 hybrid-fusion oracle's lexical leg, so the two gates can
    * never assert different lexical rankings.
    */
  private lazy val bm25Ctes: String =
    s"""d AS (
            SELECT doc_id, ${toksSql(normSql)} AS toks FROM documents),
          lens AS (
            SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM d),
          stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM lens),
          q(query_id, qtext) AS (VALUES $bm25QueriesValuesSql),
          qt AS (
            SELECT DISTINCT query_id, term FROM (
              SELECT query_id, unnest(${toksSql("qtext")}) AS term FROM q)),
          matched AS (
            SELECT term, doc_id, dl, CAST(count(*) AS DOUBLE) AS tf FROM (
              SELECT doc_id, dl, unnest(toks) AS term FROM lens) p
            WHERE term IN (SELECT DISTINCT term FROM qt)
            GROUP BY term, doc_id, dl),
          dfs AS (
            SELECT term, CAST(count(*) AS DOUBLE) AS df FROM matched GROUP BY term),
          contrib AS (
            SELECT qt.query_id, m.doc_id,
              (floor(ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5)) * 1000000.0 + 0.5)
                 / 1000000.0)
                * m.tf * 2.2
                / (m.tf + 1.2 * (0.25 + 0.75 * m.dl / s.avgdl)) AS c
            FROM matched m JOIN dfs f USING (term) JOIN qt USING (term)
            CROSS JOIN stats s),
          scores AS (
            SELECT query_id, doc_id,
              floor(sum(c) * 10000.0 + 0.5) / 10000.0 AS score
            FROM contrib GROUP BY query_id, doc_id),
          lexr AS (
            SELECT query_id, doc_id, score,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, doc_id ASC) AS rank
            FROM scores)"""

  /** Shared tail of the s10/s11 oracles: from a prepared `bb(vec_id,
    * b, bv)` band table — candidates on the band equi-join, exact
    * cosine ONCE per unordered pair, symmetric per-vertex rank. One
    * definition so the two gates can never assert different truths.
    */
  private def knnRankSql(prefixCtes: String): String =
    s"""$prefixCtes,
          cand AS (
            SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
            FROM bb a JOIN bb c USING (b, bv)
            WHERE a.vec_id < c.vec_id),
          scored AS (
            SELECT id1, id2,
              CASE WHEN sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)) = 0 THEN 0
                   ELSE list_dot_product(ea.v, eb.v)
                        / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) END AS cos
            FROM cand JOIN e ea ON ea.vec_id = cand.id1
                      JOIN e eb ON eb.vec_id = cand.id2),
          sym AS (
            SELECT id1 AS id, id2 AS nb, cos FROM scored
            UNION ALL SELECT id2, id1, cos FROM scored),
          r AS (
            SELECT id, nb, cos,
              row_number() OVER (PARTITION BY id ORDER BY cos DESC, nb) AS rank
            FROM sym)
          SELECT id, CAST(rank AS INTEGER) AS rank, nb AS neighbor_id,
            round(cos, 4) AS cosine
          FROM r WHERE rank <= 5 ORDER BY id, rank"""

  /** The g5/g6 twins run the same computations as g4/g1 with the
    * driver size gate OFF (`driverThreshold = 0`), so the DISTRIBUTED
    * CC/PageRank recurrences are oracle-checked at the SFs where the
    * gate otherwise always fires (VERDICT r14 item: the distributed
    * graph path was oracle-dark, covered only by ScalaTest parity).
    * Driver and distributed labelings are equal by construction, so
    * the twins share g4/g1's oracle SQL verbatim.
    */
  def oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    "g5_cc_distributed" -> oracleSqlBase("g4_cc_incremental"),
    "g6_pagerank_distributed" -> oracleSqlBase("g1_pagerank"))

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         floor(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) * 100 + 0.5) / 100 AS sum_qty,
         floor(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) * 100 + 0.5) / 100 AS sum_base_price,
         floor(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE) * 100 + 0.5) / 100 AS sum_disc_price,
         floor(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6))) * (1 + CAST(l_tax AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE) * 100 + 0.5) / 100 AS sum_charge,
         floor(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / count(l_quantity) * 10000 + 0.5) / 10000 AS avg_qty,
         floor(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / count(l_extendedprice) * 10000 + 0.5) / 10000 AS avg_price,
         floor(CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / count(l_discount) * 10000 + 0.5) / 10000 AS avg_disc,
         count(*) AS count_order
         FROM lineitem
         WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q2_time_derive" ->
      """SELECT event_id, CAST(dayofweek(ts) + 1 AS INTEGER) AS day_of_week,
         CAST(hour(ts) AS INTEGER) AS time_of_day,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS flag
         FROM events ORDER BY event_id""",

    "q3_freq_rank" ->
      """SELECT event_type, count(*) AS cnt,
         CAST(rank() OVER (ORDER BY count(*) DESC) AS INTEGER) AS rank
         FROM events GROUP BY event_type ORDER BY rank, event_type""",

    "q4_dim_enrich" ->
      """SELECT c_custkey, c_name, c_mktsegment, n_name AS nation, r_name AS region
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         ORDER BY c_custkey""",

    "q5_composite_enrich" ->
      """WITH hourly AS (
           SELECT date_trunc('hour', ts) AS hb, event_type,
                  floor(CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                        / count(value) * 10000 + 0.5) / 10000 AS hourly_avg
           FROM events GROUP BY 1, 2)
         SELECT e.event_id, epoch_ms(h.hb) AS hour_ms, h.hourly_avg
         FROM events e
         JOIN hourly h ON date_trunc('hour', e.ts) = h.hb AND e.event_type = h.event_type
         ORDER BY e.event_id""",

    "q6_flag_propagate" ->
      """SELECT event_id,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS flag,
         max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
           OVER (PARTITION BY date_trunc('minute', ts), user_id) AS flag_propagated
         FROM events ORDER BY event_id""",

    "q7_incremental" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price,
         CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date
         FROM orders
         WHERE CAST(o_orderdate AS DATE) >
           (SELECT CAST(max(CAST(o_orderdate AS DATE)) - INTERVAL 90 DAY AS DATE) FROM orders)
         ORDER BY o_orderkey""",

    "q8_side_of_town" ->
      """WITH pts AS (
           SELECT c_custkey,
             35.2226 + CAST(c_custkey % 21 - 10 AS DOUBLE) * 0.01 AS lat,
             -97.4395 + CAST(CAST(floor(c_custkey / 21.0) AS BIGINT) % 21 - 10 AS DOUBLE) * 0.01 AS lon
           FROM customer),
         brg AS (
           SELECT c_custkey, lat, lon,
             fmod(degrees(atan2(
               cos(radians(lat)) * sin(radians(lon) - radians(-97.4395)),
               cos(radians(35.2226)) * sin(radians(lat))
                 - sin(radians(35.2226)) * cos(radians(lat)) * cos(radians(lon) - radians(-97.4395))
             )) + 360.0, 360.0) AS bearing
           FROM pts)
         SELECT c_custkey, round(lat, 4) AS lat, round(lon, 4) AS lon,
           ['N','NE','E','SE','S','SW','W','NW'][CAST(floor(fmod(bearing + 22.5, 360.0) / 45.0) AS INTEGER) + 1] AS side_of_town
         FROM brg ORDER BY c_custkey""",

    "q9_null_health" ->
      """SELECT count(*) AS total_rows,
         CAST(coalesce(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS null_value,
         CAST(coalesce(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS null_props,
         CAST(coalesce(sum(CASE WHEN trim(props) = '' THEN 1 ELSE 0 END), 0) AS BIGINT) AS blank_props
         FROM events""",

    "q10_dedup_keyed" ->
      """SELECT user_id, event_type, event_id AS first_event_id, ts_ms AS first_ts_ms
         FROM (SELECT user_id, event_type, event_id, epoch_ms(ts) AS ts_ms,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY epoch_ms(ts), event_id) AS rn
               FROM events)
         WHERE rn = 1 ORDER BY user_id, event_type""",

    "q11_hourly_rollup" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
         count(*) AS n,
         floor(CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / count(value) * 10000 + 0.5) / 10000 AS avg_value,
         round(CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE), 2) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY hour_ms, event_type""",

    "q12_sessionize" ->
      """WITH ord AS (
           SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
             lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
           FROM events),
         flagged AS (
           SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_sess
           FROM ord),
         sess AS (
           SELECT user_id, event_id, ts_ms,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
           FROM flagged)
         SELECT user_id, session_idx, count(*) AS n_events,
           min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
         FROM sess GROUP BY user_id, session_idx ORDER BY user_id, session_idx""",

    "q13_topk_per_group" ->
      """SELECT p_brand, CAST(rn AS INTEGER) AS rn, p_partkey, p_name, round(p_retailprice, 2) AS price
         FROM (SELECT *, row_number() OVER (PARTITION BY p_brand
                 ORDER BY p_retailprice DESC, p_partkey) AS rn FROM part)
         WHERE rn <= 3 ORDER BY p_brand, rn""",

    "q14_revenue_topk" ->
      """SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
         floor(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE) * 100 + 0.5) / 100 AS revenue
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderkey, o_orderdate
         ORDER BY revenue DESC, o_orderkey LIMIT 10""",

    "q15_market_share" ->
      """SELECT r_name AS region, CAST(year(o_orderdate) AS INTEGER) AS yr,
         floor(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE) * 100 + 0.5) / 100 AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, year(o_orderdate)
         ORDER BY region, yr""",

    "q16_asof_lastview" ->
      """WITH ve AS (
           SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms
           FROM events WHERE event_type IN ('view', 'purchase'))
         SELECT event_id, ts_ms, last_view_ms FROM (
           SELECT event_id, event_type, ts_ms,
             max(CASE WHEN event_type = 'view' THEN ts_ms END)
               OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_ms
           FROM ve)
         WHERE event_type = 'purchase' ORDER BY event_id""",

    "q19_asof_planned" ->
      """WITH p AS (
           SELECT user_id, event_id, epoch_ms(ts) AS ts_ms
           FROM events WHERE event_type = 'purchase'),
         v AS (
           SELECT DISTINCT user_id, epoch_ms(ts) AS ts_ms
           FROM events WHERE event_type = 'view')
         SELECT p.event_id, p.ts_ms, v.ts_ms AS last_view_ms
         FROM p ASOF LEFT JOIN v
           ON p.user_id = v.user_id AND v.ts_ms <= p.ts_ms
         ORDER BY p.event_id""",

    "q20_topk_rewrite" ->
      """WITH scored AS (
           SELECT l_suppkey AS suppkey,
             coalesce(floor((l_extendedprice * (1.0 - l_discount)) * 100 + 0.5) / 100,
               0.0) AS score,
             coalesce(l_orderkey * 10 + l_linenumber, -1) AS id
           FROM lineitem)
         SELECT suppkey, score, id, rn FROM (
           SELECT suppkey, score, id,
             row_number() OVER (PARTITION BY suppkey
                                ORDER BY score DESC, id ASC) AS rn
           FROM scored)
         WHERE rn <= 5 ORDER BY suppkey, rn""",

    "q21_rollup" ->
      """SELECT event_type, epoch_ms(date_trunc('hour', ts)) AS hb_ms,
         count(*) AS n,
         floor(CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / count(value) * 10000 + 0.5) / 10000 AS avg_value,
         CAST(GROUPING(event_type) AS INTEGER) AS g_type,
         CAST(GROUPING(epoch_ms(date_trunc('hour', ts))) AS INTEGER) AS g_hour
         FROM events
         GROUP BY ROLLUP (event_type, epoch_ms(date_trunc('hour', ts)))
         ORDER BY g_type, g_hour, event_type, hb_ms""",

    "q22_moving_avg" ->
      """SELECT event_id, epoch_ms(ts) AS ts_ms,
         floor(CAST(CAST(sum(CAST(value AS DECIMAL(18,6)))
             OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
           / count(value)
             OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
           * 10000 + 0.5) / 10000 AS mov_avg
         FROM events ORDER BY event_id""",

    "q17_dim_upsert" ->
      """WITH dim AS (
           SELECT n_nationkey AS nationkey, n_name AS name, 'cached' AS src
           FROM nation WHERE n_nationkey < 13),
         missing AS (
           SELECT DISTINCT c_nationkey AS nationkey FROM customer
           WHERE c_nationkey IS NOT NULL
             AND c_nationkey NOT IN (SELECT nationkey FROM dim))
         SELECT nationkey, name, src FROM dim
         UNION ALL
         SELECT nationkey, 'backfilled_' || nationkey AS name, 'fetched' AS src
         FROM missing
         ORDER BY nationkey""",

    "q18_salted_agg" ->
      """SELECT user_id, count(*) AS cnt FROM events
         GROUP BY user_id ORDER BY user_id""",

    "d1_dedup_exact" ->
      s"""SELECT md5($normSql) AS fingerprint, count(*) AS n_dups,
          min(doc_id) AS canonical_id
          FROM documents GROUP BY 1 ORDER BY fingerprint""",

    "d2_minhash_lsh" ->
      s"""WITH prep AS (
            SELECT doc_id,
              CASE WHEN length($normSql) >= 5
                   THEN list_distinct(list_transform(range(1, length($normSql) - 3),
                          i -> substr($normSql, i, 5)))
                   ELSE CAST([] AS VARCHAR[]) END AS sh
            FROM documents),
          pairs AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2,
              CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
              CAST(len(a.sh) + len(b.sh) AS DOUBLE) AS szsum
            FROM prep a JOIN prep b ON a.doc_id < b.doc_id),
          j AS (
            SELECT id1, id2,
              floor((CASE WHEN szsum - inter = 0 THEN 0
                          ELSE inter / (szsum - inter) END) * 10000 + 0.5) / 10000 AS jaccard
            FROM pairs)
          SELECT id1, id2, jaccard FROM j WHERE jaccard >= 0.5 ORDER BY id1, id2""",

    // SimHash replicated literally: portable md5-fold token hashes →
    // 60-bit majority-vote fingerprint → EXACT all-pairs hamming ≤ 3
    // (so banding recall 1.0 is asserted on top of value parity).
    "d3_simhash" ->
      s"""WITH t AS (SELECT doc_id, ${toksSql(normSql)} AS toks FROM documents),
          h AS (
            SELECT doc_id,
              list_transform(toks, tk ->
                list_reduce(list_transform(range(1, 16),
                  i -> CAST(strpos('0123456789abcdef', substr(md5(tk), i, 1)) - 1 AS BIGINT)),
                  (acc, d) -> acc * 16 + d)) AS hs
            FROM t WHERE len(toks) > 0),
          f AS (
            SELECT doc_id,
              CAST(list_sum(list_transform(range(0, 60), b ->
                CASE WHEN 2 * len(list_filter(hs, hv -> (hv >> CAST(b AS INTEGER)) & 1 = 1)) > len(hs)
                     THEN CAST(1 AS BIGINT) << CAST(b AS INTEGER) ELSE 0 END)) AS BIGINT) AS fp
            FROM h)
          SELECT a.doc_id AS id1, b.doc_id AS id2,
            CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
          FROM f a JOIN f b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.fp, b.fp)) <= 3
          ORDER BY id1, id2""",

    "d4_ngram_jaccard" ->
      s"""WITH prep AS (
            SELECT doc_id, source AS block,
              list_distinct(list_transform(range(1, len(${toksSql(normSql)}) - 1),
                i -> concat_ws(' ', ${toksSql(normSql)}[i], ${toksSql(normSql)}[i+1], ${toksSql(normSql)}[i+2]))) AS grams
            FROM documents),
          pairs AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2,
              CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) AS inter,
              CAST(len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS DOUBLE) AS uni
            FROM prep a JOIN prep b ON a.block = b.block AND a.doc_id < b.doc_id)
          SELECT id1, id2,
            floor((CASE WHEN uni = 0 THEN 0 ELSE inter / uni END) * 10000 + 0.5) / 10000 AS jaccard
          FROM pairs
          WHERE floor((CASE WHEN uni = 0 THEN 0 ELSE inter / uni END) * 10000 + 0.5) / 10000 >= 0.4
          ORDER BY id1, id2""",

    "d5_embed_neardup" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (
           SELECT a.vec_id AS id1, b.vec_id AS id2,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
           FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
         SELECT id1, id2, round(cos, 4) AS cosine FROM p
         WHERE cos >= 0.3 ORDER BY id1, id2""",

    // d5's pair graph → connected components via a recursive CTE
    // (min reachable id per vertex — exactly what the label
    // propagation converges to), then size + canonical flags.
    "d7_cluster_dedup" ->
      """WITH RECURSIVE e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (
           SELECT a.vec_id AS id1, b.vec_id AS id2
           FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35),
         ed AS (SELECT id1 AS a, id2 AS b FROM p UNION SELECT id2, id1 FROM p),
         nodes AS (SELECT DISTINCT a AS id FROM ed),
         walk(id, comp) AS (
           SELECT id, CAST(id AS BIGINT) FROM nodes
           UNION
           SELECT ed.b, w.comp FROM walk w JOIN ed ON ed.a = w.id),
         cc AS (SELECT id, min(comp) AS component FROM walk GROUP BY id)
         SELECT CAST(id AS BIGINT) AS id, component,
           CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size,
           CAST(CASE WHEN id = component THEN 1 ELSE 0 END AS INTEGER) AS keep
         FROM cc ORDER BY id""",

    // the INCREMENTAL path's truth is mechanism-independent: CC from
    // scratch over the FULL edge set (the oracle never sees the
    // old/new split) — equality proves merging the delta into the base
    // labeling lands exactly where a full recompute does
    "g4_cc_incremental" ->
      """WITH RECURSIVE e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (
           SELECT a.vec_id AS id1, b.vec_id AS id2
           FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35),
         ed AS (SELECT id1 AS a, id2 AS b FROM p UNION SELECT id2, id1 FROM p),
         nodes AS (SELECT DISTINCT a AS id FROM ed),
         walk(id, comp) AS (
           SELECT id, CAST(id AS BIGINT) FROM nodes
           UNION
           SELECT ed.b, w.comp FROM walk w JOIN ed ON ed.a = w.id),
         cc AS (SELECT id, min(comp) AS component FROM walk GROUP BY id)
         SELECT CAST(id AS BIGINT) AS id, component FROM cc ORDER BY id""",

    // d8's 4-band COUNT-DERIVED banding replicated literally (d9's
    // machinery at bands = 4, bit cap 63/4 = 15): the bit derivation,
    // the candidate set (agree on >= 1 band over shared-prefix
    // signatures), AND the exact-cosine verify are all reproduced, so
    // the scale knob itself is oracle-checked.
    "d8_embed_lsh" -> {
      val sigTerms = sigTermsSql(60)
      s"""WITH params AS (
            SELECT COALESCE(MIN(b), 15) AS bits
            FROM (SELECT unnest(range(2, 16)) AS b),
                 (SELECT count(*) AS c FROM embeddings) n
            WHERE CAST(2 ** b AS BIGINT) * 64 >= n.c),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          sigs AS (SELECT vec_id, CAST($sigTerms AS BIGINT) AS sig FROM e),
          bb AS (
            SELECT vec_id, b,
              (sig // CAST(2 ** (b * bits) AS BIGINT)) % CAST(2 ** bits AS BIGINT) AS bv
            FROM sigs, (SELECT unnest(range(4)) AS b), params),
          cand AS (
            SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
            FROM bb a JOIN bb c USING (b, bv)
            WHERE a.vec_id < c.vec_id),
          scored AS (
            SELECT id1, id2,
              CASE WHEN sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)) = 0 THEN 0
                   ELSE list_dot_product(ea.v, eb.v)
                        / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) END AS cos
            FROM cand JOIN e ea ON ea.vec_id = cand.id1
                      JOIN e eb ON eb.vec_id = cand.id2)
          SELECT id1, id2, round(cos, 4) AS cosine FROM scored
          WHERE cos >= 0.4 ORDER BY id1, id2"""
    },

    // d8's banding with bits derived from count(*) (6 bands ×
    // autoBandBits over shared-prefix 60-plane signatures) — the d9
    // analog of s4: the scale knob itself is oracle-checked.
    // d9's banded-candidate chain with SIDES (train-bands x
    // eval-bands) + per-train aggregation and a left join so every
    // train row verdicts — the banding, the count-derived bits, and
    // the verify are all replicated literally
    "d18_decontam_embed" -> {
      val sigTerms = sigTermsSql(60)
      s"""WITH params AS (
            SELECT COALESCE(MIN(b), 10) AS bits
            FROM (SELECT unnest(range(2, 11)) AS b),
                 (SELECT count(*) AS c FROM embeddings) n
            WHERE CAST(2 ** b AS BIGINT) * 64 >= n.c),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          sigs AS (SELECT vec_id, CAST($sigTerms AS BIGINT) AS sig FROM e),
          bb AS (
            SELECT vec_id, b,
              (sig // CAST(2 ** (b * bits) AS BIGINT)) % CAST(2 ** bits AS BIGINT) AS bv
            FROM sigs, (SELECT unnest(range(6)) AS b), params),
          cand AS (
            SELECT DISTINCT a.vec_id AS train_id, c.vec_id AS eval_id
            FROM bb a JOIN bb c USING (b, bv)
            WHERE a.vec_id % 10 <> 0 AND c.vec_id % 10 = 0),
          scored AS (
            SELECT train_id, eval_id,
              CASE WHEN sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)) = 0 THEN 0
                   ELSE list_dot_product(ea.v, eb.v)
                        / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) END AS cos
            FROM cand JOIN e ea ON ea.vec_id = cand.train_id
                      JOIN e eb ON eb.vec_id = cand.eval_id),
          hits AS (
            SELECT train_id, count(*) AS n_eval_matches,
              max(round(cos, 4)) AS max_cosine
            FROM scored WHERE cos >= 0.4 GROUP BY 1)
          SELECT e.vec_id AS doc_id,
            CASE WHEN h.n_eval_matches IS NOT NULL THEN 1 ELSE 0 END AS contaminated,
            COALESCE(h.n_eval_matches, 0) AS n_eval_matches,
            h.max_cosine
          FROM e LEFT JOIN hits h ON h.train_id = e.vec_id
          WHERE e.vec_id % 10 <> 0 ORDER BY doc_id"""
    },

    "d9_embed_lsh_auto" -> {
      val sigTerms = sigTermsSql(60)
      s"""WITH params AS (
            SELECT COALESCE(MIN(b), 10) AS bits
            FROM (SELECT unnest(range(2, 11)) AS b),
                 (SELECT count(*) AS c FROM embeddings) n
            WHERE CAST(2 ** b AS BIGINT) * 64 >= n.c),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          sigs AS (SELECT vec_id, CAST($sigTerms AS BIGINT) AS sig FROM e),
          bb AS (
            SELECT vec_id, b,
              (sig // CAST(2 ** (b * bits) AS BIGINT)) % CAST(2 ** bits AS BIGINT) AS bv
            FROM sigs, (SELECT unnest(range(6)) AS b), params),
          cand AS (
            SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
            FROM bb a JOIN bb c USING (b, bv)
            WHERE a.vec_id < c.vec_id),
          scored AS (
            SELECT id1, id2,
              CASE WHEN sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)) = 0 THEN 0
                   ELSE list_dot_product(ea.v, eb.v)
                        / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) END AS cos
            FROM cand JOIN e ea ON ea.vec_id = cand.id1
                      JOIN e eb ON eb.vec_id = cand.id2)
          SELECT id1, id2, round(cos, 4) AS cosine FROM scored
          WHERE cos >= 0.4 ORDER BY id1, id2"""
    },

    "s1_ann_bruteforce" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0),
         scored AS (
           SELECT p.query_id, e.vec_id AS neighbor_id,
             list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
           FROM e JOIN p ON e.vec_id <> p.query_id),
         ranked AS (
           SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
           FROM scored)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cosine
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",

    // MMR trajectory replicated: centroid (c1 decimal-mean recipe) →
    // rel → k unrolled greedy picks, penalty = greatest 6dp cosine to
    // the prior single-row picks.
    "s8_mmr_select" -> mmrOracleSql(5, 0.7),

    // PQ replicated literally: per-subspace codebooks (lowest-id init,
    // one Lloyd step with the c1 decimal-mean recipe, L2 assignment in
    // the reduced c·c − 2·x·c form), corpus encoding, probe ADC tables,
    // and the decimal-exact adist sum — rank (adist asc, neighbor asc).
    "s7_ann_pq" -> (pqRankedSql + """
         SELECT query_id, rank, neighbor_id, adist
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""),

    // the IVFADC composite: s7's ADC chain restricted to pairs whose
    // probe reads the candidate's inverted list — the coarse
    // quantizer (s3's hash-order sampled centroids, dot/|c| argmax,
    // lower-ci ties) and the 4-of-16 probe fan-out both replicated
    "s13_ivfpq" -> (pqRankedSqlPruned(ivfPruneCtes, ivfPruneJoins) + """
         SELECT query_id, rank, neighbor_id, adist
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""),

    // s13's ranked chain at rank <= 5 vs a brute-force truth CTE over
    // the same e/p tables, joined by the s5 recall recipe — the eval
    // gate for the composite index, fully replicated
    "s15_ivfpq_recall" -> (pqRankedSqlPruned(ivfPruneCtes, ivfPruneJoins) + """,
         approx AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
         bf_scored AS (
           SELECT p.query_id, e.vec_id AS neighbor_id,
             list_dot_product(p.qv, e.v)
               / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
           FROM e JOIN p ON e.vec_id <> p.query_id),
         bf AS (
           SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
             FROM bf_scored) t
           WHERE rank <= 5)
         SELECT bf.query_id AS query_id, CAST(count(a.query_id) AS BIGINT) AS n_hit,
           floor(count(a.query_id) / 5.0 * 10000.0 + 0.5) / 10000.0 AS recall
         FROM bf LEFT JOIN approx a
           ON bf.query_id = a.query_id AND bf.neighbor_id = a.neighbor_id
         GROUP BY bf.query_id ORDER BY bf.query_id"""),

    // s13's IVF-pruned ADC chain at rank <= 50 feeding s12's
    // exact-cosine rerank CTE — all three stages of the full serving
    // shape replicated by composing the two proven fragments
    "s14_ivfpq_rerank" -> (pqRankedSqlPruned(ivfPruneCtes, ivfPruneJoins) + """,
         cand AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 50),
         rr AS (
           SELECT cand.query_id, cand.neighbor_id,
             list_dot_product(p.qv, e.v)
               / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
           FROM cand JOIN e ON e.vec_id = cand.neighbor_id
                     JOIN p ON p.query_id = cand.query_id),
         rranked AS (
           SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
           FROM rr)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cosine
         FROM rranked WHERE rank <= 5 ORDER BY query_id, rank"""),

    // s7's ADC chain at rank <= 50 feeds an EXACT-cosine rerank (s1's
    // scoring + ranking formulas verbatim) — both stages of the
    // two-stage ANN are oracle-replicated
    "s12_ann_rerank" -> (pqRankedSql + """,
         cand AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 50),
         rr AS (
           SELECT cand.query_id, cand.neighbor_id,
             list_dot_product(p.qv, e.v)
               / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
           FROM cand JOIN e ON e.vec_id = cand.neighbor_id
                     JOIN p ON p.query_id = cand.query_id),
         rranked AS (
           SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
           FROM rr)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cosine
         FROM rranked WHERE rank <= 5 ORDER BY query_id, rank"""),

    // The LSH bucketing replicated literally: signature bits from the
    // same 16 hyperplanes (embedded as literals), 4-bit bands, probe
    // side expanded to hamming<=1 band values (multi-probe radius 1).
    "s2_ann_lsh" -> {
      val sigTerms = sigTermsSql(16)
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          sigs AS (SELECT vec_id, v, CAST($sigTerms AS BIGINT) AS sig FROM e),
          cb AS (
            SELECT vec_id AS neighbor_id, v AS cv, b, (sig // CAST(16 ** b AS BIGINT)) % 16 AS bv
            FROM sigs, (SELECT unnest(range(4)) AS b)),
          pb AS (
            SELECT query_id, qv, b,
              CASE WHEN f = -1 THEN bv ELSE xor(bv, CAST(2 ** f AS BIGINT)) END AS bv
            FROM (SELECT vec_id AS query_id, v AS qv, b, (sig // CAST(16 ** b AS BIGINT)) % 16 AS bv
                  FROM sigs, (SELECT unnest(range(4)) AS b)
                  WHERE vec_id % 100 = 0) pbase,
                 (SELECT unnest([-1, 0, 1, 2, 3]) AS f) flips),
          cand AS (
            SELECT DISTINCT query_id, neighbor_id, qv, cv
            FROM cb JOIN pb USING (b, bv)
            WHERE query_id <> neighbor_id),
          scored AS (
            SELECT query_id, neighbor_id,
              CASE WHEN sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)) = 0 THEN 0
                   ELSE list_dot_product(qv,cv) / (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv))) END AS cos
            FROM cand),
          ranked AS (
            SELECT query_id, neighbor_id, cos,
              CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
            FROM scored)
          SELECT query_id, rank, neighbor_id, round(cos, 4) AS cosine
          FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
    },

    // s2's banding with the BITS DERIVED FROM count(*): the `params`
    // CTE runs autoBandBits' integer rule (smallest b in [2,15] with
    // 2^b * 64 >= corpus rows); the 60-plane signature is computed
    // once and each band reads only its low-bit slice, which matches
    // the Spark side exactly because hyperplanes(4*bits) is a PREFIX
    // of hyperplanes(60) (same seeded draw order). Multi-probe flips
    // expand with the derived bits (range(-1, bits): -1 = exact).
    "s4_ann_lsh_auto" -> {
      val sigTerms = sigTermsSql(60)
      s"""WITH params AS (
            SELECT COALESCE(MIN(b), 15) AS bits
            FROM (SELECT unnest(range(2, 16)) AS b),
                 (SELECT count(*) AS c FROM embeddings) n
            WHERE CAST(2 ** b AS BIGINT) * 64 >= n.c),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          sigs AS (SELECT vec_id, v, CAST($sigTerms AS BIGINT) AS sig FROM e),
          cb AS (
            SELECT vec_id AS neighbor_id, v AS cv, b,
              (sig // CAST(2 ** (b * bits) AS BIGINT)) % CAST(2 ** bits AS BIGINT) AS bv
            FROM sigs, (SELECT unnest(range(4)) AS b), params),
          pb AS (
            SELECT query_id, qv, b,
              CASE WHEN f = -1 THEN bv ELSE xor(bv, CAST(2 ** f AS BIGINT)) END AS bv
            FROM (SELECT vec_id AS query_id, v AS qv, b,
                    (sig // CAST(2 ** (b * bits) AS BIGINT)) % CAST(2 ** bits AS BIGINT) AS bv
                  FROM sigs, (SELECT unnest(range(4)) AS b), params
                  WHERE vec_id % 100 = 0) pbase,
                 (SELECT unnest(range(-1, (SELECT bits FROM params))) AS f) flips),
          cand AS (
            SELECT DISTINCT query_id, neighbor_id, qv, cv
            FROM cb JOIN pb USING (b, bv)
            WHERE query_id <> neighbor_id),
          scored AS (
            SELECT query_id, neighbor_id,
              CASE WHEN sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)) = 0 THEN 0
                   ELSE list_dot_product(qv,cv) / (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv))) END AS cos
            FROM cand),
          ranked AS (
            SELECT query_id, neighbor_id, cos,
              CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
            FROM scored)
          SELECT query_id, rank, neighbor_id, round(cos, 4) AS cosine
          FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
    },

    // s1's brute-force ranking (ground truth) composed with s4's
    // auto-banded LSH ranking (approx), then recall@5 = |approx ∩
    // truth| / 5 per query. Both rankings are the SAME SQL as their
    // standalone oracles, so a recall mismatch isolates to the
    // composition, not the inputs.
    "s5_recall_eval" -> {
      val sigTerms = sigTermsSql(60)
      s"""WITH params AS (
            SELECT COALESCE(MIN(b), 15) AS bits
            FROM (SELECT unnest(range(2, 16)) AS b),
                 (SELECT count(*) AS c FROM embeddings) n
            WHERE CAST(2 ** b AS BIGINT) * 64 >= n.c),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          p AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0),
          bf_scored AS (
            SELECT p.query_id, e.vec_id AS neighbor_id,
              list_dot_product(qv, v)
                / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
            FROM e JOIN p ON e.vec_id <> p.query_id),
          bf AS (
            SELECT query_id, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
              FROM bf_scored) t
            WHERE rank <= 5),
          sigs AS (SELECT vec_id, v, CAST($sigTerms AS BIGINT) AS sig FROM e),
          cb AS (
            SELECT vec_id AS neighbor_id, v AS cv, b,
              (sig // CAST(2 ** (b * bits) AS BIGINT)) % CAST(2 ** bits AS BIGINT) AS bv
            FROM sigs, (SELECT unnest(range(4)) AS b), params),
          pb AS (
            SELECT query_id, qv, b,
              CASE WHEN f = -1 THEN bv ELSE xor(bv, CAST(2 ** f AS BIGINT)) END AS bv
            FROM (SELECT vec_id AS query_id, v AS qv, b,
                    (sig // CAST(2 ** (b * bits) AS BIGINT)) % CAST(2 ** bits AS BIGINT) AS bv
                  FROM sigs, (SELECT unnest(range(4)) AS b), params
                  WHERE vec_id % 100 = 0) pbase,
                 (SELECT unnest(range(-1, (SELECT bits FROM params))) AS f) flips),
          cand AS (
            SELECT DISTINCT query_id, neighbor_id, qv, cv
            FROM cb JOIN pb USING (b, bv)
            WHERE query_id <> neighbor_id),
          lsh_scored AS (
            SELECT query_id, neighbor_id,
              CASE WHEN sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)) = 0 THEN 0
                   ELSE list_dot_product(qv,cv) / (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv))) END AS cos
            FROM cand),
          lsh AS (
            SELECT query_id, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
              FROM lsh_scored) t
            WHERE rank <= 5)
          SELECT bf.query_id AS query_id, CAST(count(l.query_id) AS BIGINT) AS n_hit,
            floor(count(l.query_id) / 5.0 * 10000.0 + 0.5) / 10000.0 AS recall
          FROM bf LEFT JOIN lsh l
            ON bf.query_id = l.query_id AND bf.neighbor_id = l.neighbor_id
          GROUP BY bf.query_id ORDER BY bf.query_id"""
    },

    // c1's decimal-exact per-dim centroid recipe keyed by label, then
    // the t18 decimal-mean recipe for the norm/coherence aggregates.
    "s6_embed_stats" ->
      """WITH e AS (SELECT label AS grp, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT grp, v, CAST(len(v) AS BIGINT) AS dim,
                 sqrt(list_dot_product(v, v)) AS nrm FROM e),
         comp AS (SELECT grp, generate_subscripts(v, 1) AS d, unnest(v) AS x FROM n),
         cd AS (
           SELECT grp, d,
             floor((CAST(CAST(sum(CAST(floor(x * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                    / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS cx
           FROM comp GROUP BY grp, d),
         cent AS (SELECT grp, list(cx ORDER BY d) AS cvec FROM cd GROUP BY grp),
         j AS (
           SELECT n.grp, n.dim, n.nrm,
             CASE WHEN n.nrm * sqrt(list_dot_product(c.cvec, c.cvec)) = 0 THEN 0.0
                  ELSE list_dot_product(n.v, c.cvec)
                       / (n.nrm * sqrt(list_dot_product(c.cvec, c.cvec))) END AS cosc
           FROM n JOIN cent c USING (grp))
         SELECT grp, CAST(count(*) AS BIGINT) AS n_vecs,
           min(dim) AS dim_min, max(dim) AS dim_max,
           CAST(count(*) FILTER (nrm = 0) AS BIGINT) AS n_zero_norm,
           floor((CAST(CAST(sum(CAST(floor(nrm * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                  / count(*)) * 10000.0 + 0.5) / 10000.0 AS mean_norm,
           floor(quantile_cont(floor(nrm * 1000000.0 + 0.5) / 1000000.0, 0.5) * 10000.0 + 0.5) / 10000.0 AS p50_norm,
           floor((CAST(CAST(sum(CAST(floor(cosc * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                  / count(*)) * 10000.0 + 0.5) / 10000.0 AS mean_cos_centroid
         FROM j GROUP BY grp ORDER BY grp""",

    // s16: the WHOLE incremental-IVF lifecycle replayed from scratch —
    // k-means fit on the index split (c1's portable trajectory:
    // k-lowest-id init, 6dp decimal-exact recompute), EVERY point
    // (index and delta alike) assigned to the replayed frozen
    // centroids, the train-p05 staleness calibration (quantile_cont ↔
    // percentile, the t10 parity), and the per-centroid census. The
    // engine computes the delta side INCREMENTALLY from the persisted
    // tables; equality against this from-scratch replication IS the
    // incremental == from-scratch check.
    "s16_ivf_incremental" -> {
      def asgSql(src: String): String =
        s"""SELECT vec_id, cid, cos FROM (
              SELECT x.vec_id, i.cid,
                CASE WHEN sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(i.c, i.c)) = 0 THEN 0
                     ELSE list_dot_product(x.v, i.c)
                          / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(i.c, i.c))) END AS cos,
                row_number() OVER (PARTITION BY x.vec_id ORDER BY
                  CASE WHEN sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(i.c, i.c)) = 0 THEN 0
                       ELSE list_dot_product(x.v, i.c)
                            / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(i.c, i.c))) END DESC,
                  i.cid ASC) AS rn
              FROM $src x CROSS JOIN cent2 i) WHERE rn = 1"""
      s"""WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
          tr AS (SELECT * FROM e
            WHERE substr(md5(CAST(vec_id AS VARCHAR) || ':graft'), 1, 4) < 'c000'),
          de AS (SELECT * FROM e
            WHERE NOT (substr(md5(CAST(vec_id AS VARCHAR) || ':graft'), 1, 4) < 'c000')),
          init AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
            FROM tr ORDER BY vec_id LIMIT 4),
          a1 AS (
            SELECT vec_id, v, cid FROM (
              SELECT tr.vec_id, tr.v, i.cid,
                row_number() OVER (PARTITION BY tr.vec_id ORDER BY
                  CASE WHEN sqrt(list_dot_product(tr.v, tr.v)) * sqrt(list_dot_product(i.c, i.c)) = 0 THEN 0
                       ELSE list_dot_product(tr.v, i.c)
                            / (sqrt(list_dot_product(tr.v, tr.v)) * sqrt(list_dot_product(i.c, i.c))) END DESC,
                  i.cid ASC) AS rn
              FROM tr CROSS JOIN init i) WHERE rn = 1),
          comp AS (
            SELECT cid, u.d AS d,
              CAST(floor(u.x * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS xq
            FROM (SELECT cid, unnest(list_transform(range(1, len(v) + 1),
                    j -> struct_pack(d := j, x := v[j]))) AS u FROM a1)),
          cent AS (
            SELECT cid, d,
              floor(CAST(CAST(sum(xq) AS VARCHAR) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS cx
            FROM comp GROUP BY cid, d),
          cent2 AS (SELECT cid, list(cx ORDER BY d) AS c FROM cent GROUP BY cid),
          atr AS (${asgSql("tr")}),
          adl AS (${asgSql("de")}),
          q AS (
            SELECT floor(quantile_cont(floor(cos * 10000 + 0.5) / 10000, 0.05)
                         * 10000 + 0.5) / 10000 AS q05 FROM atr),
          lab AS (
            SELECT cid, 0 AS is_delta, 0 AS is_stale FROM atr
            UNION ALL
            SELECT adl.cid, 1,
              CASE WHEN floor(adl.cos * 10000 + 0.5) / 10000 < q.q05
                   THEN 1 ELSE 0 END
            FROM adl, q),
          g AS (
            SELECT cid, CAST(sum(1 - is_delta) AS BIGINT) AS n_index,
              CAST(sum(is_delta) AS BIGINT) AS n_delta,
              CAST(sum(is_stale) AS BIGINT) AS n_stale
            FROM lab GROUP BY cid)
          SELECT c2.cid AS cluster_id,
            COALESCE(g.n_index, 0) AS n_index,
            COALESCE(g.n_delta, 0) AS n_delta,
            COALESCE(g.n_stale, 0) AS n_stale,
            CASE WHEN COALESCE(g.n_delta, 0) > 0
                 THEN floor(CAST(g.n_stale AS DOUBLE) / g.n_delta * 10000 + 0.5) / 10000
                 END AS stale_frac,
            q.q05 AS train_cos_q05
          FROM cent2 c2 LEFT JOIN g ON g.cid = c2.cid, q
          ORDER BY cluster_id"""
    },

    // s17: the WHOLE re-fit migration replayed from scratch — the OLD
    // chain is s16's (fit on the t8 75% slice, every point assigned at
    // those frozen centroids, train-slice q05), the NEW chain re-fits
    // on the FULL corpus at k=5 (full-corpus q05), and the receipt is
    // the (old, new) confusion rollup with both staleness rules. The
    // engine reassigns via ivfIndexTables over the corpus; equality
    // against this replay IS the "reassignment == from-scratch at the
    // new centroids" check.
    "s17_ivf_refit" -> {
      // one c1-portable kmeans chain (k-lowest-id init, ONE decimal-
      // exact Lloyd round) over CTE `src`, emitting `${p}cent2`
      def fitChain(p: String, src: String, k: Int): String =
        s"""${p}init AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
            FROM $src ORDER BY vec_id LIMIT $k),
          ${p}a1 AS (
            SELECT vec_id, v, cid FROM (
              SELECT s.vec_id, s.v, i.cid,
                row_number() OVER (PARTITION BY s.vec_id ORDER BY
                  CASE WHEN sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(i.c, i.c)) = 0 THEN 0
                       ELSE list_dot_product(s.v, i.c)
                            / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(i.c, i.c))) END DESC,
                  i.cid ASC) AS rn
              FROM $src s CROSS JOIN ${p}init i) WHERE rn = 1),
          ${p}comp AS (
            SELECT cid, u.d AS d,
              CAST(floor(u.x * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS xq
            FROM (SELECT cid, unnest(list_transform(range(1, len(v) + 1),
                    j -> struct_pack(d := j, x := v[j]))) AS u FROM ${p}a1)),
          ${p}cent AS (
            SELECT cid, d,
              floor(CAST(CAST(sum(xq) AS VARCHAR) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS cx
            FROM ${p}comp GROUP BY cid, d),
          ${p}cent2 AS (SELECT cid, list(cx ORDER BY d) AS c FROM ${p}cent GROUP BY cid)"""
      // frozen assignment of `src` at `${p}cent2` (argmax cos, lower
      // cid ties, zero-norm -> 0)
      def asgSql(p: String, src: String): String =
        s"""SELECT vec_id, cid, cos FROM (
              SELECT x.vec_id, i.cid,
                CASE WHEN sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(i.c, i.c)) = 0 THEN 0
                     ELSE list_dot_product(x.v, i.c)
                          / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(i.c, i.c))) END AS cos,
                row_number() OVER (PARTITION BY x.vec_id ORDER BY
                  CASE WHEN sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(i.c, i.c)) = 0 THEN 0
                       ELSE list_dot_product(x.v, i.c)
                            / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(i.c, i.c))) END DESC,
                  i.cid ASC) AS rn
              FROM $src x CROSS JOIN ${p}cent2 i) WHERE rn = 1"""
      s"""WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
          tr AS (SELECT * FROM e
            WHERE substr(md5(CAST(vec_id AS VARCHAR) || ':graft'), 1, 4) < 'c000'),
          ${fitChain("o_", "tr", 4)},
          ${fitChain("n_", "e", 5)},
          ao AS (${asgSql("o_", "e")}),
          an AS (${asgSql("n_", "e")}),
          aotr AS (${asgSql("o_", "tr")}),
          qo AS (
            SELECT floor(quantile_cont(floor(cos * 10000 + 0.5) / 10000, 0.05)
                         * 10000 + 0.5) / 10000 AS q05 FROM aotr),
          qn AS (
            SELECT floor(quantile_cont(floor(cos * 10000 + 0.5) / 10000, 0.05)
                         * 10000 + 0.5) / 10000 AS q05 FROM an)
          SELECT ao.cid AS old_cluster_id, an.cid AS new_cluster_id,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN floor(ao.cos * 10000 + 0.5) / 10000 < qo.q05
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_stale_before,
            CAST(sum(CASE WHEN floor(an.cos * 10000 + 0.5) / 10000 < qn.q05
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_stale_after
          FROM ao JOIN an USING (vec_id), qo, qn
          GROUP BY 1, 2 ORDER BY 1, 2"""
    },

    // IVF replicated literally: centroids = first numCentroids rows in
    // the portable affine-hash order (Similarity.sampleOrder), corpus
    // assigned to argmax dot/|c| (tie: lower ci), probes search their
    // nProbe nearest cells.
    "s3_ann_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cents AS (
           SELECT row_number() OVER (ORDER BY ((vec_id % 1000003) * 999983 + 101) % 1000003, vec_id) - 1 AS ci, v AS cv
           FROM e ORDER BY ((vec_id % 1000003) * 999983 + 101) % 1000003, vec_id LIMIT 16),
         cn AS (SELECT ci, cv, sqrt(list_dot_product(cv, cv)) AS cnorm FROM cents),
         ascore AS (
           SELECT e.vec_id, e.v, cn.ci, list_dot_product(e.v, cn.cv) / cn.cnorm AS s
           FROM e, cn),
         corpus AS (
           SELECT vec_id AS neighbor_id, v AS cv2, ci FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS rn FROM ascore) t
           WHERE rn = 1),
         probes AS (
           SELECT vec_id AS query_id, v AS qv, ci FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS rn FROM ascore
             WHERE vec_id % 100 = 0) t
           WHERE rn <= 4),
         cand AS (
           SELECT query_id, neighbor_id, qv, cv2 FROM corpus JOIN probes USING (ci)
           WHERE query_id <> neighbor_id),
         scored AS (
           SELECT query_id, neighbor_id,
             CASE WHEN sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv2,cv2)) = 0 THEN 0
                  ELSE list_dot_product(qv,cv2) / (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv2,cv2))) END AS cos
           FROM cand),
         ranked AS (
           SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
           FROM scored)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cosine
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",

    "t1_lang_profile" ->
      s"""SELECT lang, count(*) AS n_docs,
          floor(CAST(CAST(sum(n_chars) AS VARCHAR) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_chars,
          floor(CAST(CAST(sum(len(${toksSql("text")})) AS VARCHAR) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_tokens
          FROM documents GROUP BY lang ORDER BY lang""",

    "t2_quality_score" ->
      s"""WITH f AS (
            SELECT doc_id,
              CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens,
              CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS BIGINT) AS n_punct,
              CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS BIGINT) AS n_upper,
              CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
              CAST(len(list_filter(${toksSql("lower(text)")},
                t -> t IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS n_stopwords,
              length(text) AS n_chars_raw
            FROM documents)
          SELECT doc_id, n_tokens, n_punct, n_stopwords,
            floor((
              0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
              + 0.4 * least(CASE WHEN n_tokens = 0 THEN 0.0
                  ELSE CAST(n_stopwords AS DOUBLE) / n_tokens END * 5.0, 1.0)
              + 0.2 * (1.0 - least((
                  (CASE WHEN n_chars_raw = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / n_chars_raw END)
                  + (CASE WHEN n_chars_raw = 0 THEN 0.0 ELSE CAST(n_digit AS DOUBLE) / n_chars_raw END)
                ) * 5.0, 1.0))) * 10000 + 0.5) / 10000 AS quality
          FROM f ORDER BY doc_id""",

    "t3_token_topk" ->
      s"""SELECT token, count(*) AS cnt FROM (
            SELECT unnest(${toksSql(normSql)}) AS token FROM documents)
          GROUP BY token ORDER BY cnt DESC, token LIMIT 20""",

    "t4_fingerprint" ->
      s"""SELECT doc_id, md5($normSql) AS fingerprint,
          CAST(length($normSql) AS BIGINT) AS norm_len,
          CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens
          FROM documents ORDER BY doc_id""",

    "t5_lang_id" ->
      s"""WITH hits AS (
            SELECT doc_id,
              CAST(len(list_filter(${toksSql("lower(text)")}, t -> t IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS en,
              CAST(len(list_filter(${toksSql("lower(text)")}, t -> t IN ('el','la','de','que','y','los'))) AS BIGINT) AS es,
              CAST(len(list_filter(${toksSql("lower(text)")}, t -> t IN ('le','la','de','et','les','des'))) AS BIGINT) AS fr,
              CAST(len(list_filter(${toksSql("lower(text)")}, t -> t IN ('der','die','und','das','ein','zu'))) AS BIGINT) AS de
            FROM documents)
          SELECT doc_id,
            CASE WHEN greatest(en, es, fr, de) = 0 THEN 'und'
                 WHEN en = greatest(en, es, fr, de) THEN 'en'
                 WHEN es = greatest(en, es, fr, de) THEN 'es'
                 WHEN fr = greatest(en, es, fr, de) THEN 'fr'
                 ELSE 'de' END AS lang_pred
          FROM hits ORDER BY doc_id""",

    "t6_token_bpe" ->
      s"""SELECT doc_id,
          CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe,
          CAST(len(${toksSql("text")}) AS BIGINT) AS n_ws
          FROM documents ORDER BY doc_id""",

    "t7_pii_scrub" ->
      """WITH p AS (
           SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com' ||
               (CASE WHEN doc_id % 3 = 0 THEN ' call 555-123-4567 or 555-987-6543'
                     WHEN doc_id % 3 = 1 THEN ' call 555-111-2222'
                     ELSE '' END) ||
               (CASE WHEN doc_id % 4 = 0
                     THEN ' from 10.0.' || (doc_id % 256) || '.7'
                     ELSE '' END) ||
               (CASE WHEN doc_id % 5 = 0
                     THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END) AS pii_text
           FROM documents),
         s AS (
           SELECT doc_id,
             regexp_replace(pii_text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS no_email,
             CAST(len(regexp_extract_all(pii_text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails
           FROM p),
         s2 AS (
           SELECT doc_id, n_emails,
             regexp_replace(no_email, '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g') AS no_phone,
             CAST(len(regexp_extract_all(no_email, '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}')) AS BIGINT) AS n_phones
           FROM s),
         s3 AS (
           SELECT doc_id, n_emails, n_phones,
             regexp_replace(no_phone, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS no_ip,
             CAST(len(regexp_extract_all(no_phone, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ips
           FROM s2)
         SELECT doc_id,
           regexp_replace(no_ip, '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g') AS clean_text,
           n_emails, n_phones, n_ips,
           CAST(len(regexp_extract_all(no_ip, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS BIGINT) AS n_ssns
         FROM s3 ORDER BY doc_id""",

    "t8_split_det" ->
      """WITH b AS (
           SELECT doc_id,
             substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 4) AS bucket
           FROM documents WHERE doc_id IS NOT NULL)
         SELECT doc_id, bucket,
           CASE WHEN bucket < 'e666' THEN 'train'
                WHEN bucket < 'f333' THEN 'val'
                ELSE 'test' END AS split
         FROM b ORDER BY doc_id""",

    "q30_cdc_apply" ->
      """WITH c AS (
           SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
             (event_type = 'error') AS del, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
           FROM events)
         SELECT user_id, ts_ms, event_id, value FROM c
         WHERE rn = 1 AND NOT del ORDER BY user_id""",

    "c3_curation_pipeline" ->
      s"""WITH g AS (
            SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5($normSql)),
          u AS (
            SELECT d.doc_id, d.text, d.lang FROM documents d JOIN g USING (doc_id)),
          f AS (
            SELECT doc_id, text AS txt, ${toksSql("text")} AS toks FROM u),
          s AS (
            SELECT doc_id,
              CAST(len(toks) AS BIGINT) AS n_tokens,
              CASE WHEN len(toks) = 0 THEN 0.0
                   ELSE CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                        / len(toks) END AS mwl,
              COALESCE(list_max(list_transform(toks, t -> length(t))), 0) AS maxw,
              len(list_filter(${toksSql("lower(txt)")},
                t -> t IN ('the','a','and','of','to','in','is'))) AS stop,
              CASE WHEN length(txt) = 0 THEN 0.0
                   ELSE CAST(length(txt) - length(regexp_replace(txt, '[0-9]', '', 'g')) AS DOUBLE)
                        / length(txt) END AS dr
            FROM f),
          keep AS (
            SELECT doc_id FROM s
            WHERE n_tokens >= 10 AND n_tokens <= 100000
              AND mwl >= 2.0 AND mwl <= 12.0 AND stop >= 1
              AND dr < 0.3 AND maxw <= 30),
          sc AS (
            SELECT u.doc_id, u.lang,
              CAST(len(regexp_extract_all(u.text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
              CAST(len(regexp_extract_all(regexp_replace(u.text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}')) AS BIGINT) AS n_phones,
              substr(md5(CAST(u.doc_id AS VARCHAR) || ':graft'), 1, 4) AS bucket
            FROM u JOIN keep USING (doc_id))
          SELECT doc_id, lang,
            CASE WHEN bucket < 'e666' THEN 'train'
                 WHEN bucket < 'f333' THEN 'val'
                 ELSE 'test' END AS split,
            n_emails, n_phones
          FROM sc ORDER BY doc_id""",

    "d6_decontaminate" -> decontamOracleSql,

    // d13 is d6 with a bloom-prefiltered train side — row-identical by
    // construction (no false negatives), so it shares d6's oracle
    "d13_decontam_bloom" -> decontamOracleSql,

    "d14_incremental_dedup" ->
      s"""WITH sp AS (
            SELECT doc_id, text,
              CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 4) < 'b333'
                   THEN 'index' ELSE 'delta' END AS split
            FROM documents WHERE doc_id IS NOT NULL),
          f AS (SELECT doc_id, split, md5($normSql) AS fingerprint FROM sp),
          idx AS (SELECT DISTINCT fingerprint FROM f WHERE split = 'index'),
          del AS (SELECT doc_id, fingerprint FROM f WHERE split = 'delta'),
          fst AS (SELECT fingerprint, min(doc_id) AS first_id
                  FROM del GROUP BY 1)
          SELECT d.doc_id, d.fingerprint,
            CASE WHEN i.fingerprint IS NOT NULL THEN 'dup_index'
                 WHEN d.doc_id <> x.first_id THEN 'dup_delta'
                 ELSE 'new' END AS verdict
          FROM del d JOIN fst x USING (fingerprint)
          LEFT JOIN idx i USING (fingerprint)
          ORDER BY d.doc_id""",

    // Brute-force truth, as d2: the banded incremental path must agree
    // with exact delta×(index ∪ smaller-id delta) Jaccard — banding
    // recall 1.0 asserted across the index/delta boundary.
    "d16_neardup_incremental" ->
      s"""WITH sp AS (
            SELECT doc_id, text,
              CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 4) < 'b333'
                   THEN 'index' ELSE 'delta' END AS split
            FROM documents WHERE doc_id IS NOT NULL),
          prep AS (
            SELECT doc_id, split,
              CASE WHEN length($normSql) >= 5
                   THEN list_distinct(list_transform(range(1, length($normSql) - 3),
                          i -> substr($normSql, i, 5)))
                   ELSE CAST([] AS VARCHAR[]) END AS sh
            FROM sp),
          cand AS (
            SELECT d.doc_id AS did,
              CASE WHEN p.split = 'index' THEN 1 ELSE 0 END AS p_idx,
              CAST(len(list_intersect(d.sh, p.sh)) AS DOUBLE) AS inter,
              CAST(len(d.sh) + len(p.sh) AS DOUBLE) AS szsum
            FROM prep d JOIN prep p
              ON d.split = 'delta'
             AND (p.split = 'index' OR (p.split = 'delta' AND p.doc_id < d.doc_id))),
          v AS (
            SELECT did, p_idx FROM cand
            WHERE floor((CASE WHEN szsum - inter = 0 THEN 0
                              ELSE inter / (szsum - inter) END) * 10000 + 0.5) / 10000 >= 0.5),
          m AS (SELECT did, sum(p_idx) AS ni, sum(1 - p_idx) AS nd
                FROM v GROUP BY 1)
          SELECT s.doc_id,
            CASE WHEN coalesce(m.ni, 0) > 0 THEN 'dup_index'
                 WHEN coalesce(m.nd, 0) > 0 THEN 'dup_delta'
                 ELSE 'new' END AS verdict,
            CAST(coalesce(m.ni, 0) AS BIGINT) AS n_index_matches,
            CAST(coalesce(m.nd, 0) AS BIGINT) AS n_delta_matches
          FROM sp s LEFT JOIN m ON s.doc_id = m.did
          WHERE s.split = 'delta'
          ORDER BY s.doc_id""",

    // d22: the full chain replicated — fingerprint-keyed sample,
    // portable md5-fold shingle hashes, the (2i+1)·h+i+1 mod-P
    // minhash mix, 65599 band-key folds, candidate equi-join with the
    // lossless size prefilter, brute-force truth, and the recall join
    "d22_banding_recall" -> bandingRecallOracleSql(128, 32, 0.5, "4000"),

    // d24: s16's fit/frozen-assignment chain with vectors carried,
    // delta 2-probe blocking vs index+delta home rows, canonical
    // candidate pairs, exact-cosine verify — the whole incremental
    // SemDeDup mechanism replayed.
    "d24_semdedup_incremental" -> {
      def asgV(src: String, probes: Int): String =
        s"""SELECT vec_id, v, cid FROM (
              SELECT x.vec_id, x.v, i.cid,
                row_number() OVER (PARTITION BY x.vec_id ORDER BY
                  CASE WHEN sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(i.c, i.c)) = 0 THEN 0
                       ELSE list_dot_product(x.v, i.c)
                            / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(i.c, i.c))) END DESC,
                  i.cid ASC) AS rn
              FROM $src x CROSS JOIN cent2 i) WHERE rn <= $probes"""
      s"""WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
          tr AS (SELECT * FROM e
            WHERE substr(md5(CAST(vec_id AS VARCHAR) || ':graft'), 1, 4) < 'c000'),
          de AS (SELECT * FROM e
            WHERE NOT (substr(md5(CAST(vec_id AS VARCHAR) || ':graft'), 1, 4) < 'c000')),
          init AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
            FROM tr ORDER BY vec_id LIMIT 4),
          a1 AS (
            SELECT vec_id, v, cid FROM (
              SELECT tr.vec_id, tr.v, i.cid,
                row_number() OVER (PARTITION BY tr.vec_id ORDER BY
                  CASE WHEN sqrt(list_dot_product(tr.v, tr.v)) * sqrt(list_dot_product(i.c, i.c)) = 0 THEN 0
                       ELSE list_dot_product(tr.v, i.c)
                            / (sqrt(list_dot_product(tr.v, tr.v)) * sqrt(list_dot_product(i.c, i.c))) END DESC,
                  i.cid ASC) AS rn
              FROM tr CROSS JOIN init i) WHERE rn = 1),
          comp AS (
            SELECT cid, u.d AS d,
              CAST(floor(u.x * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS xq
            FROM (SELECT cid, unnest(list_transform(range(1, len(v) + 1),
                    j -> struct_pack(d := j, x := v[j]))) AS u FROM a1)),
          cent AS (
            SELECT cid, d,
              floor(CAST(CAST(sum(xq) AS VARCHAR) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS cx
            FROM comp GROUP BY cid, d),
          cent2 AS MATERIALIZED (
            SELECT cid, list(cx ORDER BY d) AS c FROM cent GROUP BY cid),
          ih AS (${asgV("tr", 1)}),
          dp AS (${asgV("de", 2)}),
          dh AS (${asgV("de", 1)}),
          build AS (SELECT * FROM ih UNION ALL SELECT * FROM dh),
          cand AS (
            SELECT DISTINCT least(a.vec_id, b.vec_id) AS id1,
              greatest(a.vec_id, b.vec_id) AS id2
            FROM dp a JOIN build b
              ON a.cid = b.cid AND a.vec_id != b.vec_id),
          scored AS (
            SELECT id1, id2,
              CASE WHEN sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)) = 0 THEN 0
                   ELSE list_dot_product(ea.v, eb.v)
                        / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) END AS cos
            FROM cand JOIN e ea ON ea.vec_id = cand.id1
                      JOIN e eb ON eb.vec_id = cand.id2)
          SELECT id1, id2, round(cos, 4) AS cosine FROM scored
          WHERE cos >= 0.4 ORDER BY id1, id2"""
    },

    // d23: the d22 stats chain over HYPERPLANE banding — id-keyed 1/8
    // sample, signatures replayed from literal plane vectors (the d8
    // contract), 6 x 4-bit band slices, brute-force exact-cosine
    // truth on the sample, recall rollup.
    "d23_embed_banding_recall" -> {
      val sigTerms = sigTermsSql(24)
      s"""WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            WHERE substr(md5(CAST(vec_id AS VARCHAR) || ':graft'), 1, 4) < '2000'),
          sigs AS (SELECT vec_id, CAST($sigTerms AS BIGINT) AS sig FROM e),
          bb AS (
            SELECT vec_id, b, (sig // CAST(16 ** b AS BIGINT)) % 16 AS bv
            FROM sigs, (SELECT unnest(range(6)) AS b)),
          cand AS (
            SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
            FROM bb a JOIN bb c USING (b, bv)
            WHERE a.vec_id < c.vec_id),
          tp AS (
            SELECT a.vec_id AS id1, c.vec_id AS id2
            FROM e a JOIN e c ON a.vec_id < c.vec_id
            WHERE (CASE WHEN sqrt(list_dot_product(a.v, a.v))
                             * sqrt(list_dot_product(c.v, c.v)) = 0 THEN 0
                        ELSE list_dot_product(a.v, c.v)
                             / (sqrt(list_dot_product(a.v, a.v))
                                * sqrt(list_dot_product(c.v, c.v))) END) >= 0.4),
          hit AS (SELECT count(*) AS nh FROM tp JOIN cand USING (id1, id2))
          SELECT (SELECT count(*) FROM e) AS sample_vecs,
            (SELECT count(*) FROM tp) AS n_true_pairs,
            (SELECT count(*) FROM cand) AS n_candidates,
            (SELECT nh FROM hit) AS n_banded_true,
            CASE WHEN (SELECT count(*) FROM tp) = 0 THEN NULL
                 ELSE floor(CAST((SELECT nh FROM hit) AS DOUBLE)
                      / (SELECT count(*) FROM tp) * 10000 + 0.5) / 10000 END AS recall"""
    },

    "d15_dup_rate_sample" ->
      s"""WITH f AS (SELECT md5($normSql) AS fingerprint FROM documents),
          s AS (SELECT fingerprint FROM f
                WHERE substr(md5(fingerprint || ':graft'), 1, 4) < '2000')
          SELECT count(*) AS sample_docs,
            count(DISTINCT fingerprint) AS sample_distinct,
            count(*) - count(DISTINCT fingerprint) AS dup_docs,
            CASE WHEN count(*) = 0 THEN NULL
                 ELSE floor((CAST(count(*) - count(DISTINCT fingerprint) AS DOUBLE)
                             / count(*)) * 10000 + 0.5) / 10000 END AS dup_rate
          FROM s""",

    "t13_det_shuffle" ->
      """WITH h AS (
           SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':shuf') AS hh
           FROM documents WHERE doc_id IS NOT NULL)
         SELECT doc_id, substr(hh, 1, 2) AS bucket,
           CAST(row_number() OVER (PARTITION BY substr(hh, 1, 2)
             ORDER BY hh, doc_id) AS BIGINT) AS pos
         FROM h ORDER BY bucket, pos""",

    "t12_rolling_fp" ->
      s"""WITH n AS (SELECT doc_id, $normSql AS norm FROM documents)
          SELECT doc_id,
            CASE WHEN length(norm) = 0 THEN 0
                 ELSE list_reduce(
                   list_transform(range(1, length(norm) + 1),
                     i -> CAST(unicode(substr(norm, i, 1)) AS BIGINT)),
                   (acc, x) -> (acc * 31 + x) % 1000000007) END AS rolling_fp,
            CAST(length(norm) AS BIGINT) AS norm_len
          FROM n ORDER BY doc_id""",

    "t14_repetition" ->
      s"""WITH t AS (SELECT doc_id, ${toksSql(normSql)} AS toks FROM documents),
          f AS (SELECT doc_id,
            CAST(len(toks) AS BIGINT) AS n_tokens,
            len(list_distinct(toks)) AS n_distinct,
            greatest(len(toks) - 1, 0) AS n_bi,
            len(list_distinct(list_transform(range(1, len(toks)),
              i -> concat_ws(' ', toks[i], toks[i+1])))) AS n_dbi,
            list_max(list_transform(list_distinct(toks),
              tk -> len(list_filter(toks, x -> x = tk)))) AS topc
          FROM t)
          SELECT doc_id, n_tokens,
            floor((CASE WHEN n_tokens = 0 THEN 0.0
                        ELSE 1.0 - CAST(n_distinct AS DOUBLE) / n_tokens END) * 10000 + 0.5) / 10000 AS dup_token_frac,
            floor((CASE WHEN n_bi = 0 THEN 0.0
                        ELSE 1.0 - CAST(n_dbi AS DOUBLE) / n_bi END) * 10000 + 0.5) / 10000 AS dup_bigram_frac,
            floor((CASE WHEN n_tokens = 0 THEN 0.0
                        ELSE CAST(topc AS DOUBLE) / n_tokens END) * 10000 + 0.5) / 10000 AS top_token_frac
          FROM f ORDER BY doc_id""",

    "t16_quality_filter" ->
      s"""WITH f AS (
            SELECT doc_id, text AS txt, ${toksSql("text")} AS toks FROM documents),
          s AS (
            SELECT doc_id,
              CAST(len(toks) AS BIGINT) AS n_tokens,
              CASE WHEN len(toks) = 0 THEN 0.0
                   ELSE CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                        / len(toks) END AS mwl,
              COALESCE(list_max(list_transform(toks, t -> length(t))), 0) AS maxw,
              len(list_filter(${toksSql("lower(txt)")},
                t -> t IN ('the','a','and','of','to','in','is'))) AS stop,
              CASE WHEN length(txt) = 0 THEN 0.0
                   ELSE CAST(length(txt) - length(regexp_replace(txt, '[0-9]', '', 'g')) AS DOUBLE)
                        / length(txt) END AS dr
            FROM f),
          b AS (
            SELECT doc_id, n_tokens,
              CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1 ELSE 0 END AS r_len,
              CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 1 ELSE 0 END AS r_word_len,
              CASE WHEN stop >= 1 THEN 1 ELSE 0 END AS r_stop,
              CASE WHEN dr < 0.3 THEN 1 ELSE 0 END AS r_digit,
              CASE WHEN maxw <= 30 THEN 1 ELSE 0 END AS r_max_word
            FROM s)
          SELECT doc_id, n_tokens,
            CAST(r_len AS INTEGER) AS r_len,
            CAST(r_word_len AS INTEGER) AS r_word_len,
            CAST(r_stop AS INTEGER) AS r_stop,
            CAST(r_digit AS INTEGER) AS r_digit,
            CAST(r_max_word AS INTEGER) AS r_max_word,
            CAST(CASE WHEN r_len + r_word_len + r_stop + r_digit + r_max_word = 5
                 THEN 1 ELSE 0 END AS INTEGER) AS keep
          FROM b ORDER BY doc_id""",

    // Winnowing replicated literally: same base-31 mod-1e9+7 k-gram
    // hashes (k=8), same w=4 windows, same rightmost-min selection.
    "t15_winnow" ->
      s"""WITH $winnowSelCtes,
          u AS (SELECT doc_id, unnest(fps) AS sf FROM sel)
          SELECT DISTINCT doc_id, sf.pos AS pos, sf.fp AS fp
          FROM u ORDER BY doc_id, pos""",

    // d19: the SAME winnowing selection as t15 (one CTE definition so
    // the two gates can never assert different truths), then the
    // verified-gram first-occurrence rule, islands within gap 11
    // (= w+k-1), and the per-doc rollup.
    "d19_substring_dedup" ->
      s"""WITH $winnowSelCtes,
          u AS (SELECT DISTINCT doc_id, sf.pos AS pos
                FROM (SELECT doc_id, unnest(fps) AS sf FROM sel)),
          anch AS (SELECT u.doc_id, u.pos,
                     substr(n.norm, CAST(u.pos AS INT), 8) AS gram
                   FROM u JOIN n USING (doc_id)),
          firsts AS (SELECT gram, doc_id AS fdoc, pos AS fpos FROM anch
                     QUALIFY row_number() OVER (PARTITION BY gram
                                                ORDER BY doc_id, pos) = 1),
          dup AS (SELECT a.doc_id, a.pos
                  FROM anch a JOIN firsts f USING (gram)
                  WHERE NOT (a.doc_id = f.fdoc AND a.pos = f.fpos)),
          isl AS (SELECT doc_id, pos,
                    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                                   ORDER BY pos) <= 11
                         THEN 0 ELSE 1 END AS brk
                  FROM dup),
          isl2 AS (SELECT doc_id, pos,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
                   FROM isl),
          spans AS (SELECT doc_id, island, CAST(count(*) AS BIGINT) AS na,
                      min(pos) AS s, max(pos) + 7 AS e
                    FROM isl2 GROUP BY 1, 2),
          agg_a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_anchors
                    FROM anch GROUP BY 1),
          agg_s AS (SELECT doc_id, CAST(sum(na) AS BIGINT) AS n_dup_anchors,
                      CAST(count(*) AS BIGINT) AS n_spans,
                      CAST(sum(e - s + 1) AS BIGINT) AS dup_chars
                    FROM spans GROUP BY 1)
          SELECT a.doc_id, a.n_anchors,
            coalesce(s.n_dup_anchors, 0) AS n_dup_anchors,
            coalesce(s.n_spans, 0) AS n_spans,
            coalesce(s.dup_chars, 0) AS dup_chars
          FROM agg_a a LEFT JOIN agg_s s USING (doc_id)
          ORDER BY a.doc_id""",

    // d20: the same chain through the merged spans, then the per-doc
    // excision — kept gaps stitched around the sorted span list, the
    // trailing segment appended, span-free docs passed through whole.
    "d20_substring_strip" ->
      s"""WITH $winnowSelCtes,
          u AS (SELECT DISTINCT doc_id, sf.pos AS pos
                FROM (SELECT doc_id, unnest(fps) AS sf FROM sel)),
          anch AS (SELECT u.doc_id, u.pos,
                     substr(n.norm, CAST(u.pos AS INT), 8) AS gram
                   FROM u JOIN n USING (doc_id)),
          firsts AS (SELECT gram, doc_id AS fdoc, pos AS fpos FROM anch
                     QUALIFY row_number() OVER (PARTITION BY gram
                                                ORDER BY doc_id, pos) = 1),
          dup AS (SELECT a.doc_id, a.pos
                  FROM anch a JOIN firsts f USING (gram)
                  WHERE NOT (a.doc_id = f.fdoc AND a.pos = f.fpos)),
          isl AS (SELECT doc_id, pos,
                    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                                   ORDER BY pos) <= 11
                         THEN 0 ELSE 1 END AS brk
                  FROM dup),
          isl2 AS (SELECT doc_id, pos,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
                   FROM isl),
          spans AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 7 AS e
                    FROM isl2 GROUP BY 1, 2),
          spagg AS (SELECT doc_id, list({'s': s, 'e': e} ORDER BY s) AS sp,
                      CAST(sum(e - s + 1) AS BIGINT) AS removed
                    FROM spans GROUP BY doc_id),
          j AS (SELECT n.doc_id, n.norm, sp, removed
                FROM n LEFT JOIN spagg USING (doc_id)
                WHERE length(n.norm) > 0),
          c2 AS (SELECT doc_id,
              CASE WHEN sp IS NULL THEN norm
                   ELSE array_to_string(list_transform(range(1, len(sp) + 1),
                          i -> substr(norm,
                            CAST((CASE WHEN i = 1 THEN 0 ELSE sp[i-1].e END) + 1 AS INT),
                            CAST(sp[i].s - (CASE WHEN i = 1 THEN 0
                                            ELSE sp[i-1].e END) - 1 AS INT))), '')
                        || substr(norm, CAST(sp[len(sp)].e + 1 AS INT),
                             CAST(length(norm) - sp[len(sp)].e AS INT))
              END AS cleaned, coalesce(removed, 0) AS removed
            FROM j)
          SELECT doc_id, cleaned AS cleaned_text,
            CAST(length(cleaned) AS BIGINT) AS n_kept_chars,
            removed AS n_removed_chars
          FROM c2 ORDER BY doc_id""",

    "t10_len_quantiles" ->
      """SELECT lang AS grp, count(*) AS n_docs,
         CAST(min(n_chars) AS BIGINT) AS min_len,
         CAST(max(n_chars) AS BIGINT) AS max_len,
         floor(quantile_cont(CAST(n_chars AS DOUBLE), 0.25) * 10000 + 0.5) / 10000 AS p25,
         floor(quantile_cont(CAST(n_chars AS DOUBLE), 0.50) * 10000 + 0.5) / 10000 AS p50,
         floor(quantile_cont(CAST(n_chars AS DOUBLE), 0.75) * 10000 + 0.5) / 10000 AS p75,
         floor(quantile_cont(CAST(n_chars AS DOUBLE), 0.95) * 10000 + 0.5) / 10000 AS p95
         FROM documents GROUP BY lang ORDER BY grp""",

    "t18_lm_score" ->
      s"""WITH d AS (
            SELECT doc_id, ${toksSql(normSql)} AS toks FROM documents),
          p AS (
            SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM (
              SELECT doc_id, unnest(toks) AS term FROM d)
            GROUP BY doc_id, term),
          train AS (
            SELECT term, sum(tf) AS cnt FROM p
            WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 4) < 'e666'
            GROUP BY term),
          stats AS (
            SELECT sum(cnt) AS total, CAST(count(*) AS DOUBLE) AS vocab FROM train),
          scored AS (
            SELECT p.doc_id, p.tf,
              floor(ln((coalesce(t.cnt, 0.0) + 0.5)
                       / (s.total + 0.5 * (s.vocab + 1.0))) * 1000000.0 + 0.5)
                / 1000000.0 AS logp
            FROM p LEFT JOIN train t USING (term) CROSS JOIN stats s)
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
            floor((-CAST(CAST(sum(CAST(tf AS DECIMAL(9,0)) * CAST(logp AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                   / sum(tf)) * 10000.0 + 0.5) / 10000.0 AS mean_nll
          FROM scored GROUP BY doc_id ORDER BY doc_id""",

    // DSIR replicated end-to-end: unigram++bigram features, md5-fold
    // bucket hashing, two smoothed bucket models, 6dp-rounded log
    // ratios summed in exact decimal, TOP-50 selection
    "t24_dsir_select" ->
      s"""WITH d AS (
            SELECT doc_id, lang = 'en' AS is_target,
              ${toksSql(normSql)} AS toks FROM documents),
          uni AS (SELECT doc_id, is_target, unnest(toks) AS f FROM d),
          big AS (
            SELECT doc_id, is_target, toks[i] || ' ' || toks[i + 1] AS f
            FROM (
              SELECT doc_id, is_target, toks,
                unnest(generate_series(1, len(toks) - 1)) AS i
              FROM d WHERE len(toks) >= 2)),
          feats AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
          hb AS (
            SELECT doc_id, is_target,
              list_reduce(list_transform(range(1, 16),
                i -> CAST(strpos('0123456789abcdef',
                       substr(md5(f), i, 1)) - 1 AS BIGINT)),
                (acc, dg) -> acc * 16 + dg) % 8192 AS b
            FROM feats),
          posts AS (
            SELECT doc_id, is_target, b, CAST(count(*) AS DOUBLE) AS tf
            FROM hb GROUP BY doc_id, is_target, b),
          tgt AS (SELECT b, sum(tf) AS tcnt FROM posts WHERE is_target GROUP BY b),
          rawm AS (SELECT b, sum(tf) AS rcnt FROM posts GROUP BY b),
          stats AS (
            SELECT (SELECT sum(tcnt) FROM tgt) AS t_total,
                   (SELECT sum(rcnt) FROM rawm) AS r_total),
          scored AS (
            SELECT p.doc_id, p.tf,
              floor(ln(
                ((coalesce(t.tcnt, 0.0) + 0.5) / (s.t_total + 4096.0)) /
                ((r.rcnt + 0.5) / (s.r_total + 4096.0))) * 1000000.0 + 0.5)
                / 1000000.0 AS lr
            FROM posts p LEFT JOIN tgt t USING (b) JOIN rawm r USING (b)
            CROSS JOIN stats s)
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_feats,
            floor(CAST(CAST(sum(CAST(tf AS DECIMAL(9,0)) * CAST(lr AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                  * 10000.0 + 0.5) / 10000.0 AS log_w
          FROM scored GROUP BY doc_id
          ORDER BY log_w DESC, doc_id LIMIT 50""",

    "t36_quality_classifier" ->
      s"""WITH $t36ScoredCtes
          SELECT doc_id, n_feats, log_odds, pred
          FROM predd ORDER BY doc_id""",

    "t39_classifier_eval" ->
      s"""WITH $t36ScoredCtes,
          ev AS (
            SELECT p.pred, d.is_target
            FROM predd p JOIN d USING (doc_id)
            WHERE NOT d.is_train),
          cm AS (
            SELECT CAST(count(*) AS BIGINT) AS n_heldout,
              CAST(sum(CASE WHEN pred = 1 AND is_target THEN 1 ELSE 0 END) AS BIGINT) AS tp,
              CAST(sum(CASE WHEN pred = 1 AND NOT is_target THEN 1 ELSE 0 END) AS BIGINT) AS fp,
              CAST(sum(CASE WHEN pred = 0 AND is_target THEN 1 ELSE 0 END) AS BIGINT) AS fn,
              CAST(sum(CASE WHEN pred = 0 AND NOT is_target THEN 1 ELSE 0 END) AS BIGINT) AS tn
            FROM ev)
          SELECT n_heldout, tp, fp, fn, tn,
            CASE WHEN tp + fp > 0
              THEN floor(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
                * 10000.0 + 0.5) / 10000.0 END AS "precision",
            CASE WHEN tp + fn > 0
              THEN floor(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
                * 10000.0 + 0.5) / 10000.0 END AS recall,
            CASE WHEN 2 * tp + fp + fn > 0
              THEN floor(2.0 * CAST(tp AS DOUBLE)
                / CAST(2 * tp + fp + fn AS DOUBLE)
                * 10000.0 + 0.5) / 10000.0 END AS f1,
            CASE WHEN n_heldout > 0
              THEN floor(CAST(tp + tn AS DOUBLE) / CAST(n_heldout AS DOUBLE)
                * 10000.0 + 0.5) / 10000.0 END AS accuracy
          FROM cm""",

    "t41_pr_curve" ->
      s"""WITH $t36ScoredCtes,
          thr(threshold) AS (VALUES ${T41Thresholds.map(t => s"($t)").mkString(", ")}),
          ev AS (
            SELECT p.log_odds, d.is_target
            FROM predd p JOIN d USING (doc_id)
            WHERE NOT d.is_train),
          cells AS (
            SELECT t.threshold,
              CASE WHEN e.log_odds > t.threshold THEN 1 ELSE 0 END AS pred,
              e.is_target
            FROM ev e CROSS JOIN thr t),
          cm AS (
            SELECT threshold, CAST(count(*) AS BIGINT) AS n_heldout,
              CAST(sum(CASE WHEN pred = 1 AND is_target THEN 1 ELSE 0 END) AS BIGINT) AS tp,
              CAST(sum(CASE WHEN pred = 1 AND NOT is_target THEN 1 ELSE 0 END) AS BIGINT) AS fp,
              CAST(sum(CASE WHEN pred = 0 AND is_target THEN 1 ELSE 0 END) AS BIGINT) AS fn,
              CAST(sum(CASE WHEN pred = 0 AND NOT is_target THEN 1 ELSE 0 END) AS BIGINT) AS tn
            FROM cells GROUP BY threshold)
          SELECT threshold, n_heldout, tp, fp, fn, tn,
            CASE WHEN tp + fp > 0
              THEN floor(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
                * 10000.0 + 0.5) / 10000.0 END AS "precision",
            CASE WHEN tp + fn > 0
              THEN floor(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
                * 10000.0 + 0.5) / 10000.0 END AS recall,
            CASE WHEN 2 * tp + fp + fn > 0
              THEN floor(2.0 * CAST(tp AS DOUBLE)
                / CAST(2 * tp + fp + fn AS DOUBLE)
                * 10000.0 + 0.5) / 10000.0 END AS f1
          FROM cm ORDER BY threshold""",

    // exact tie-corrected Mann–Whitney AUC over the DISTINCT-4dp-score
    // grid: integer group products (BIGINT), DECIMAL(38,0) total, one
    // trailing double division — shares t36ScoredCtes so the
    // classifier, t39's gate, t41's curve and this scalar can never
    // assert different trained models
    "t42_roc_auc" ->
      s"""WITH $t36ScoredCtes,
          ev AS (
            SELECT p.log_odds, d.is_target
            FROM predd p JOIN d USING (doc_id)
            WHERE NOT d.is_train),
          grp AS (
            SELECT log_odds,
              CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS pos_g,
              CAST(sum(CASE WHEN NOT is_target THEN 1 ELSE 0 END) AS BIGINT) AS neg_g
            FROM ev GROUP BY log_odds),
          cum AS (
            SELECT pos_g, neg_g,
              coalesce(sum(neg_g) OVER (ORDER BY log_odds
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cneg
            FROM grp),
          aucagg AS (
            SELECT CAST(sum(pos_g + neg_g) AS BIGINT) AS n_heldout,
              CAST(sum(pos_g) AS BIGINT) AS n_pos,
              CAST(sum(neg_g) AS BIGINT) AS n_neg,
              sum(CAST(2 * cneg * pos_g + pos_g * neg_g AS DECIMAL(38,0))) AS num2
            FROM cum)
          SELECT n_heldout, n_pos, n_neg,
            CASE WHEN n_pos > 0 AND n_neg > 0
              THEN floor(CAST(num2 AS DOUBLE)
                / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
                * 1000000.0 + 0.5) / 1000000.0 END AS auc
          FROM aucagg""",

    "t43_source_cap" ->
      s"""WITH f AS (
            SELECT doc_id, source,
              CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens,
              CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS BIGINT) AS n_punct,
              CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
              CAST(len(list_filter(${toksSql("lower(text)")},
                t -> t IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS n_stopwords,
              length(text) AS n_chars_raw
            FROM documents),
          q AS (
            SELECT doc_id, source,
              floor((
                0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                + 0.4 * least(CASE WHEN n_tokens = 0 THEN 0.0
                    ELSE CAST(n_stopwords AS DOUBLE) / n_tokens END * 5.0, 1.0)
                + 0.2 * (1.0 - least((
                    (CASE WHEN n_chars_raw = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / n_chars_raw END)
                    + (CASE WHEN n_chars_raw = 0 THEN 0.0 ELSE CAST(n_digit AS DOUBLE) / n_chars_raw END)
                  ) * 5.0, 1.0))) * 10000 + 0.5) / 10000 AS quality
            FROM f),
          r AS (
            SELECT source AS grp, doc_id AS id, quality AS score,
              row_number() OVER (PARTITION BY source
                ORDER BY quality DESC, doc_id) AS rank
            FROM q)
          SELECT grp, CAST(rank AS INTEGER) AS rank, id, score
          FROM r WHERE rank <= 10 ORDER BY grp, rank""",

    // the plant (10-token chunks + first/middle re-appended) and the
    // strip (trimmed split, first-occurrence keep) are BOTH replicated,
    // so the oracle gates the cleaning itself, not just the accounting
    "t44_para_dedup" ->
      s"""WITH $paraPlantCtes
          SELECT doc_id, n_paras, n_dup_paras, removed_chars,
            text AS text_clean
          FROM pcl ORDER BY doc_id""",

    // the COMPOSED pipeline over the SAME planted corpus (shared
    // paraPlantCtes builder — t44 and c4 can never plant differently):
    // clean -> exact dedup on cleaned fingerprints -> t16 filter ->
    // t7 scrub -> t2 quality on the SCRUBBED text -> top-10-per-source
    // quota -> t8 split
    "c4_pipeline_full" ->
      s"""WITH $paraPlantCtes,
          g AS (
            SELECT min(doc_id) AS doc_id FROM pcl GROUP BY md5($normSql)),
          u AS (SELECT pcl.* FROM pcl JOIN g USING (doc_id)),
          uf AS (
            SELECT doc_id, text AS txt, ${toksSql("text")} AS toks FROM u),
          us AS (
            SELECT doc_id,
              CAST(len(toks) AS BIGINT) AS n_tokens,
              CASE WHEN len(toks) = 0 THEN 0.0
                   ELSE CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                        / len(toks) END AS mwl,
              COALESCE(list_max(list_transform(toks, t -> length(t))), 0) AS maxw,
              len(list_filter(${toksSql("lower(txt)")},
                t -> t IN ('the','a','and','of','to','in','is'))) AS stop,
              CASE WHEN length(txt) = 0 THEN 0.0
                   ELSE CAST(length(txt) - length(regexp_replace(txt, '[0-9]', '', 'g')) AS DOUBLE)
                        / length(txt) END AS dr
            FROM uf),
          ukeep AS (
            SELECT doc_id FROM us
            WHERE n_tokens >= 10 AND n_tokens <= 100000
              AND mwl >= 2.0 AND mwl <= 12.0 AND stop >= 1
              AND dr < 0.3 AND maxw <= 30),
          sc0 AS (
            SELECT u.doc_id, u.lang, u.source, u.n_dup_paras, u.text
            FROM u JOIN ukeep USING (doc_id)),
          s1 AS (
            SELECT doc_id, lang, source, n_dup_paras,
              regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS no_email,
              CAST(len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails
            FROM sc0),
          s2 AS (
            SELECT doc_id, lang, source, n_dup_paras, n_emails,
              regexp_replace(no_email, '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g') AS no_phone,
              CAST(len(regexp_extract_all(no_email, '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}')) AS BIGINT) AS n_phones
            FROM s1),
          s3 AS (
            SELECT doc_id, lang, source, n_dup_paras, n_emails, n_phones,
              regexp_replace(no_phone, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g') AS no_ip
            FROM s2),
          s4 AS (
            SELECT doc_id, lang, source, n_dup_paras, n_emails, n_phones,
              regexp_replace(no_ip, '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g') AS stext
            FROM s3),
          qf AS (
            SELECT doc_id, lang, source, n_dup_paras, n_emails, n_phones,
              CAST(len(${toksSql("stext")}) AS BIGINT) AS n_tokens,
              CAST(length(stext) - length(regexp_replace(stext, '[\\.,;:!\\?]', '', 'g')) AS BIGINT) AS n_punct,
              CAST(length(stext) - length(regexp_replace(stext, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
              CAST(len(list_filter(${toksSql("lower(stext)")},
                t -> t IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS n_stopwords,
              length(stext) AS n_chars_raw
            FROM s4),
          q AS (
            SELECT doc_id, lang, source, n_dup_paras, n_emails, n_phones,
              floor((
                0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                + 0.4 * least(CASE WHEN n_tokens = 0 THEN 0.0
                    ELSE CAST(n_stopwords AS DOUBLE) / n_tokens END * 5.0, 1.0)
                + 0.2 * (1.0 - least((
                    (CASE WHEN n_chars_raw = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / n_chars_raw END)
                    + (CASE WHEN n_chars_raw = 0 THEN 0.0 ELSE CAST(n_digit AS DOUBLE) / n_chars_raw END)
                  ) * 5.0, 1.0))) * 10000 + 0.5) / 10000 AS quality
            FROM qf),
          r AS (
            SELECT *, row_number() OVER (PARTITION BY source
              ORDER BY quality DESC, doc_id) AS rank
            FROM q)
          SELECT doc_id, source, CAST(rank AS INTEGER) AS rank, lang,
            CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 4) < 'e666' THEN 'train'
                 WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 4) < 'f333' THEN 'val'
                 ELSE 'test' END AS split,
            quality, n_dup_paras, n_emails, n_phones
          FROM r WHERE rank <= 10 ORDER BY doc_id""",

    "t23_heavy_hitters" ->
      s"""WITH d AS (SELECT ${toksSql(normSql)} AS toks FROM documents),
          t AS (SELECT unnest(toks) AS term FROM d),
          tot AS (SELECT count(*) AS n FROM t)
          SELECT term, CAST(count(*) AS BIGINT) AS n_occ
          FROM t GROUP BY term
          HAVING count(*) * 1000 >= (SELECT n FROM tot)
          ORDER BY n_occ DESC, term""",

    "t21_bigram_lm" ->
      s"""WITH d AS (
            SELECT doc_id, ${toksSql(normSql)} AS toks FROM documents),
          idx AS (
            SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
            FROM d WHERE len(toks) >= 2),
          bp AS (
            SELECT doc_id, w1, w2, CAST(count(*) AS DOUBLE) AS tf FROM (
              SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM idx)
            GROUP BY doc_id, w1, w2),
          trainb AS (
            SELECT w1, w2, sum(tf) AS cnt FROM bp
            WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 4) < 'e666'
            GROUP BY w1, w2),
          ctx AS (SELECT w1, sum(cnt) AS ctx FROM trainb GROUP BY w1),
          uni AS (
            SELECT w2, CAST(count(*) AS DOUBLE) AS ucnt FROM (
              SELECT unnest(toks) AS w2 FROM d
              WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 4) < 'e666')
            GROUP BY w2),
          stats AS (
            SELECT sum(ucnt) AS total, CAST(count(*) AS DOUBLE) AS vocab FROM uni),
          scored AS (
            SELECT bp.doc_id, bp.tf,
              floor(ln(
                CASE WHEN c.ctx IS NULL THEN 0.0
                     ELSE 0.7 * coalesce(t.cnt, 0.0) / c.ctx END
                + 0.3 * ((coalesce(u.ucnt, 0.0) + 0.5)
                         / (s.total + 0.5 * (s.vocab + 1.0)))
              ) * 1000000.0 + 0.5) / 1000000.0 AS logp
            FROM bp LEFT JOIN trainb t USING (w1, w2)
            LEFT JOIN ctx c USING (w1)
            LEFT JOIN uni u USING (w2)
            CROSS JOIN stats s)
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
            floor((-CAST(CAST(sum(CAST(tf AS DECIMAL(9,0)) * CAST(logp AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                   / sum(tf)) * 10000.0 + 0.5) / 10000.0 AS mean_nll
          FROM scored GROUP BY doc_id ORDER BY doc_id""",

    "t17_bm25_search" ->
      s"""WITH $bm25Ctes
          SELECT query_id, doc_id, score, rank FROM lexr
          WHERE rank <= 10 ORDER BY query_id, rank""",

    // r1: both legs' chains verbatim (t17's BM25 CTEs, s1's
    // exact-cosine idiom over the five fixed probes) + the RRF
    // rollup — per-list 6dp 1/(60+rank) contributions, ONE addition,
    // (score desc, doc_id) fused rank
    "r1_hybrid_fusion" ->
      s"""WITH $bm25Ctes,
          lex AS (SELECT query_id, doc_id, rank FROM lexr WHERE rank <= 10),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          vp AS (SELECT vec_id, v AS qv FROM e
                 WHERE vec_id IN (0, 100, 200, 300, 400)),
          vscored AS (
            SELECT vp.vec_id AS pid, e.vec_id AS neighbor_id,
              list_dot_product(qv, v)
                / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
            FROM e JOIN vp ON e.vec_id <> vp.vec_id),
          vranked AS (
            SELECT pid, neighbor_id,
              row_number() OVER (PARTITION BY pid ORDER BY cos DESC, neighbor_id) AS rank
            FROM vscored),
          vec AS (
            SELECT CAST(pid // 100 AS BIGINT) AS query_id,
              neighbor_id AS doc_id, rank
            FROM vranked WHERE rank <= 10),
          fused AS (
            SELECT coalesce(l.query_id, v.query_id) AS query_id,
              coalesce(l.doc_id, v.doc_id) AS doc_id,
              CAST(l.rank AS INTEGER) AS rank_lex,
              CAST(v.rank AS INTEGER) AS rank_vec,
              floor((
                (CASE WHEN l.rank IS NULL THEN 0.0
                      ELSE floor(1.0 / (60 + l.rank) * 1000000.0 + 0.5) / 1000000.0 END)
                + (CASE WHEN v.rank IS NULL THEN 0.0
                        ELSE floor(1.0 / (60 + v.rank) * 1000000.0 + 0.5) / 1000000.0 END)
              ) * 1000000.0 + 0.5) / 1000000.0 AS rrf_score
            FROM lex l FULL JOIN vec v
              ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
          SELECT query_id,
            CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY rrf_score DESC, doc_id) AS INTEGER)
              AS fused_rank,
            doc_id, rrf_score, rank_lex, rank_vec
          FROM fused ORDER BY query_id, fused_rank""",

    "t34_bpe_train" -> bpeOracleSql(10),

    "t37_unigram_lm" ->
      s"""WITH $t37VocabCtes
          SELECT piece, cnt, logp FROM v2 ORDER BY piece""",

    "t40_unigram_prune" ->
      s"""WITH $t40VocabCtes
          SELECT piece, cnt, logp FROM v2 ORDER BY piece""",

    "t38_tokenizer_cost" -> tokenizerCostOracleSql,

    // t45/t46: the persisted-model apply paths must land on the exact
    // bits of the refit-inline trajectories — t45's oracle replays
    // fit-on-train + merge-replay-on-all, t46's IS t38's refit SQL
    // (same train split, same knobs), so model-as-input ≡ refit is
    // itself what the gate asserts
    "t45_bpe_apply" -> bpeApplyOracleSql(10, trainWhereSql),
    "t46_unigram_apply" -> tokenizerCostOracleSql,

    "t35_bpe_segment" -> bpeSegmentOracleSql(10),

    "t19_vocab" ->
      s"""SELECT lang AS grp,
          count(DISTINCT token) AS n_vocab,
          count(*) AS n_tokens
          FROM (SELECT lang, unnest(${toksSql(normSql)}) AS token FROM documents)
          GROUP BY lang ORDER BY grp""",

    "t28_js_drift" ->
      s"""WITH u AS (
            SELECT (source = 'src0') AS is_a, unnest(${toksSql(normSql)}) AS f
            FROM documents),
          hb AS (
            SELECT is_a,
              list_reduce(list_transform(range(1, 16),
                i -> CAST(strpos('0123456789abcdef',
                       substr(md5(f), i, 1)) - 1 AS BIGINT)),
                (acc, dg) -> acc * 16 + dg) % 4096 AS b
            FROM u),
          c AS (
            SELECT b,
              sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS a_cnt,
              sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS r_cnt
            FROM hb GROUP BY b),
          g AS (SELECT unnest(range(0, 4096)) AS b),
          j AS (
            SELECT CAST(coalesce(c.a_cnt, 0) AS DOUBLE) AS a_cnt,
                   CAST(coalesce(c.r_cnt, 0) AS DOUBLE) AS r_cnt
            FROM g LEFT JOIN c USING (b)),
          tot AS (
            SELECT CAST(coalesce(sum(a_cnt), 0) AS BIGINT) AS a_total,
                   CAST(coalesce(sum(r_cnt), 0) AS BIGINT) AS r_total
            FROM c),
          terms AS (
            SELECT
              floor((a_cnt + 0.5) * (
                floor(ln((a_cnt + 0.5) / (CAST(t.a_total AS DOUBLE) + 2048.0)) * 1000000.0 + 0.5) / 1000000.0
                - floor(ln(((a_cnt + 0.5) / (CAST(t.a_total AS DOUBLE) + 2048.0)
                            + (r_cnt + 0.5) / (CAST(t.r_total AS DOUBLE) + 2048.0)) / 2.0) * 1000000.0 + 0.5) / 1000000.0
              ) * 1000000.0 + 0.5) / 1000000.0 AS ta,
              floor((r_cnt + 0.5) * (
                floor(ln((r_cnt + 0.5) / (CAST(t.r_total AS DOUBLE) + 2048.0)) * 1000000.0 + 0.5) / 1000000.0
                - floor(ln(((a_cnt + 0.5) / (CAST(t.a_total AS DOUBLE) + 2048.0)
                            + (r_cnt + 0.5) / (CAST(t.r_total AS DOUBLE) + 2048.0)) / 2.0) * 1000000.0 + 0.5) / 1000000.0
              ) * 1000000.0 + 0.5) / 1000000.0 AS tr
            FROM j CROSS JOIN tot t),
          s AS (
            SELECT CAST(CAST(sum(CAST(ta AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sa,
                   CAST(CAST(sum(CAST(tr AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sr
            FROM terms)
          SELECT 4096 AS buckets, t.a_total AS slice_tokens,
            t.r_total AS rest_tokens,
            floor((sa / (CAST(t.a_total AS DOUBLE) + 2048.0)
                   + sr / (CAST(t.r_total AS DOUBLE) + 2048.0)) * 0.5 * 1000000.0 + 0.5) / 1000000.0 AS js_nats,
            floor((sa / (CAST(t.a_total AS DOUBLE) + 2048.0)
                   + sr / (CAST(t.r_total AS DOUBLE) + 2048.0)) * 0.5
                  / 0.6931471805599453 * 10000.0 + 0.5) / 10000.0 AS js_bits
          FROM s CROSS JOIN tot t""",

    "t29_doc_entropy" ->
      s"""WITH t AS (SELECT doc_id, ${toksSql(normSql)} AS toks FROM documents),
          u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
          c AS (SELECT doc_id, tok, count(*) AS c FROM u GROUP BY 1, 2),
          a AS (SELECT doc_id,
                  CAST(CAST(sum(CASE WHEN c <= 1 THEN CAST(0 AS DECIMAL(38,6))
                    ELSE CAST(CAST(c AS DECIMAL(14,0)) *
                      CAST(floor(ln(c) * 1000000.0 + 0.5) / 1000000.0
                           AS DECIMAL(18,6)) AS DECIMAL(38,6)) END)
                    AS VARCHAR) AS DOUBLE) AS s,
                  count(*) AS nd, sum(c) AS n
                FROM c GROUP BY 1)
          SELECT t.doc_id, CAST(coalesce(a.n, 0) AS BIGINT) AS n_tokens,
            CAST(coalesce(a.nd, 0) AS BIGINT) AS n_distinct,
            CASE WHEN a.n IS NULL OR a.n = 0 THEN 0.0
                 ELSE floor((floor(ln(a.n) * 1000000.0 + 0.5) / 1000000.0
                             - a.s / a.n) * 1000000.0 + 0.5) / 1000000.0
            END AS entropy_nats
          FROM t LEFT JOIN a USING (doc_id) ORDER BY t.doc_id""",

    // t2's quality expression + per-lang quantile_cont stats; med/iqr
    // floor-round at 6dp so the (score-med)/iqr division runs on
    // BIT-IDENTICAL inputs in both engines (the t18 recipe)
    "t30_score_norm" ->
      s"""WITH f AS (
            SELECT doc_id, lang,
              CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens,
              CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS BIGINT) AS n_punct,
              CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
              CAST(len(list_filter(${toksSql("lower(text)")},
                t -> t IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS n_stopwords,
              length(text) AS n_chars_raw
            FROM documents),
          q AS (
            SELECT doc_id, lang,
              floor((
                0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                + 0.4 * least(CASE WHEN n_tokens = 0 THEN 0.0
                    ELSE CAST(n_stopwords AS DOUBLE) / n_tokens END * 5.0, 1.0)
                + 0.2 * (1.0 - least((
                    (CASE WHEN n_chars_raw = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / n_chars_raw END)
                    + (CASE WHEN n_chars_raw = 0 THEN 0.0 ELSE CAST(n_digit AS DOUBLE) / n_chars_raw END)
                  ) * 5.0, 1.0))) * 10000 + 0.5) / 10000 AS quality
            FROM f),
          st AS (
            SELECT lang,
              floor(quantile_cont(quality, 0.5) * 1000000 + 0.5) / 1000000 AS med,
              floor((quantile_cont(quality, 0.75) - quantile_cont(quality, 0.25))
                * 1000000 + 0.5) / 1000000 AS iqr
            FROM q GROUP BY lang)
          SELECT q.doc_id, q.lang, q.quality,
            CASE WHEN st.iqr <= 0.0 THEN 0.0
              ELSE floor((q.quality - st.med) / st.iqr * 10000 + 0.5) / 10000
            END AS norm_score
          FROM q JOIN st USING (lang) ORDER BY q.doc_id""",

    // d5's label-block pair join at threshold 0.2 (denser graph), then
    // the mechanism-independent triangle truth: ordered 3-way join,
    // per-node counts via the 3-way projection union
    "g2_triangles" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (
           SELECT a.vec_id AS ida, b.vec_id AS idb
           FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.2),
         d AS (SELECT id, count(*) AS deg FROM
                 (SELECT ida AS id FROM p UNION ALL SELECT idb FROM p)
               GROUP BY id),
         t AS (
           SELECT e1.ida AS w, e1.idb AS x, e2.idb AS y
           FROM p e1 JOIN p e2 ON e1.idb = e2.ida
           JOIN p e3 ON e3.ida = e1.ida AND e3.idb = e2.idb),
         tn AS (SELECT id, count(*) AS n_tri FROM
                  (SELECT w AS id FROM t UNION ALL SELECT x FROM t
                   UNION ALL SELECT y FROM t)
                GROUP BY id)
         SELECT d.id, d.deg, CAST(coalesce(tn.n_tri, 0) AS BIGINT) AS n_tri,
           CASE WHEN d.deg < 2 THEN 0.0
             ELSE floor(2.0 * CAST(coalesce(tn.n_tri, 0) AS DOUBLE)
               / (CAST(d.deg AS DOUBLE) * CAST(d.deg - 1 AS DOUBLE)) * 10000 + 0.5) / 10000
           END AS clust_coef
         FROM d LEFT JOIN tn USING (id) ORDER BY d.id""",

    "t11_strat_sample" ->
      """WITH b AS (
           SELECT doc_id, source,
             substr(md5(CAST(doc_id AS VARCHAR) || ':smp'), 1, 4) AS bucket
           FROM documents)
         SELECT doc_id, source, bucket FROM b
         WHERE bucket < (CASE source WHEN 'src0' THEN '8000'
                                     WHEN 'src1' THEN '4000'
                                     ELSE '1999' END)
         ORDER BY doc_id""",

    "t26_mix_sample" ->
      """WITH p AS (
           SELECT * FROM (VALUES ('de', 1), ('en', 2), ('es', 1),
                                 ('fr', 1), ('zh', 1)) AS v(stratum, parts)),
         cnt AS (
           SELECT lang AS stratum, count(*) AS n FROM documents GROUP BY lang),
         j AS (
           SELECT p.stratum, CAST(COALESCE(n, 0) AS BIGINT) AS n,
             CAST(parts AS BIGINT) AS parts
           FROM p LEFT JOIN cnt USING (stratum)),
         k AS (SELECT min(n * 6 // parts) AS k FROM j),
         thr AS (
           SELECT stratum,
             CASE WHEN n = 0 THEN '0000'
                  WHEN (SELECT k FROM k) * parts * 65536 // (6 * n) >= 65536
                    THEN 'g'
                  ELSE printf('%04x',
                    (SELECT k FROM k) * parts * 65536 // (6 * n)) END AS thr
           FROM j)
         SELECT doc_id, lang,
           substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 4) AS bucket
         FROM documents JOIN thr ON lang = stratum
         WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 4) < thr
         ORDER BY doc_id""",

    "t27_token_budget" ->
      s"""WITH f AS (
            SELECT doc_id,
              CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens,
              CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS BIGINT) AS n_punct,
              CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS BIGINT) AS n_upper,
              CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
              CAST(len(list_filter(${toksSql("lower(text)")},
                t -> t IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS n_stopwords,
              length(text) AS n_chars_raw
            FROM documents),
          q AS (
            SELECT doc_id, n_tokens,
              floor((
                0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                + 0.4 * least(CASE WHEN n_tokens = 0 THEN 0.0
                    ELSE CAST(n_stopwords AS DOUBLE) / n_tokens END * 5.0, 1.0)
                + 0.2 * (1.0 - least((
                    (CASE WHEN n_chars_raw = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / n_chars_raw END)
                    + (CASE WHEN n_chars_raw = 0 THEN 0.0 ELSE CAST(n_digit AS DOUBLE) / n_chars_raw END)
                  ) * 5.0, 1.0))) * 10000 + 0.5) / 10000 AS quality
            FROM f),
          c AS (
            SELECT doc_id, quality, n_tokens,
              sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM q)
          SELECT doc_id, quality, n_tokens FROM c
          WHERE cum <= 50000 ORDER BY doc_id""",

    "t9_seq_pack" ->
      s"""WITH t AS (
            SELECT source AS shard, doc_id,
              CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens
            FROM documents),
          c AS (
            SELECT shard, doc_id, n_tokens,
              CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
            FROM t)
          SELECT shard, doc_id, n_tokens,
            CAST(floor(prev / 2048.0) AS BIGINT) AS pack_id,
            CAST(prev % 2048 AS BIGINT) AS pack_offset
          FROM c ORDER BY shard, doc_id""",

    "t25_chunk_passages" ->
      s"""WITH t AS (
            SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
          n AS (
            SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
            FROM t WHERE len(toks) > 0),
          c AS (
            SELECT doc_id, toks, n,
              CAST(ceil(CAST(greatest(n - 64, 0) AS DOUBLE) / 48) AS BIGINT) + 1
                AS n_chunks
            FROM n),
          e AS (
            SELECT doc_id, toks, n, unnest(range(n_chunks)) AS i FROM c)
          SELECT doc_id,
            CAST(i AS BIGINT) AS chunk_idx,
            CAST(i * 48 AS BIGINT) AS tok_start,
            CAST(least(64, n - i * 48) AS BIGINT) AS n_tokens,
            array_to_string(list_slice(toks, i * 48 + 1, i * 48 + 64), ' ')
              AS chunk_text
          FROM e ORDER BY doc_id, chunk_idx""",

    // t48: the t18 scoring chain restricted to the held-out split,
    // per-source decimal-exact mean loss, then all 5 multiplicative-
    // weights rounds unrolled — every round's baseline/excess/weight
    // arithmetic (8dp/6dp floor-rounds before decimal sums, IEEE
    // double scalar ops) replayed digit-for-digit.
    "t48_mixture_weights" -> {
      def wRound(t: Int): String =
        s"""b$t AS MATERIALIZED (
             SELECT floor(CAST(CAST(sum(CAST(floor(w * loss * 100000000 + 0.5)
                    / 100000000 AS DECIMAL(20,8))) AS VARCHAR) AS DOUBLE)
                    * 1000000 + 0.5) / 1000000 AS b FROM w${t - 1}),
           r$t AS MATERIALIZED (
             SELECT source, loss,
               greatest(0.0, floor((loss - (SELECT b FROM b$t))
                 * 1000000 + 0.5) / 1000000) AS excess,
               floor(w * (1 + 0.5 * greatest(0.0,
                 floor((loss - (SELECT b FROM b$t)) * 1000000 + 0.5)
                   / 1000000)) * 1000000 + 0.5) / 1000000 AS raw
             FROM w${t - 1}),
           w$t AS MATERIALIZED (
             SELECT source, loss, excess,
               floor(raw / (SELECT CAST(CAST(sum(CAST(raw AS DECIMAL(18,6)))
                 AS VARCHAR) AS DOUBLE) FROM r$t) * 1000000 + 0.5) / 1000000 AS w
             FROM r$t)"""
      s"""WITH d AS (
            SELECT doc_id, ${toksSql(normSql)} AS toks FROM documents),
          p AS MATERIALIZED (
            SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM (
              SELECT doc_id, unnest(toks) AS term FROM d)
            GROUP BY doc_id, term),
          train AS MATERIALIZED (
            SELECT term, sum(tf) AS cnt FROM p
            WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 4) < 'e666'
            GROUP BY term),
          stats AS MATERIALIZED (
            SELECT sum(cnt) AS total, CAST(count(*) AS DOUBLE) AS vocab FROM train),
          scored AS MATERIALIZED (
            SELECT p.doc_id, p.tf,
              floor(ln((coalesce(t.cnt, 0.0) + 0.5)
                       / (s.total + 0.5 * (s.vocab + 1.0))) * 1000000.0 + 0.5)
                / 1000000.0 AS logp
            FROM p LEFT JOIN train t USING (term) CROSS JOIN stats s
            WHERE NOT (substr(md5(CAST(p.doc_id AS VARCHAR) || ':graft'), 1, 4)
                       < 'e666')),
          nll AS MATERIALIZED (
            SELECT doc_id,
              floor((-CAST(CAST(sum(CAST(tf AS DECIMAL(9,0))
                     * CAST(logp AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                     / sum(tf)) * 10000.0 + 0.5) / 10000.0 AS mean_nll
            FROM scored GROUP BY doc_id),
          ls AS MATERIALIZED (
            SELECT dd.source,
              floor(CAST(CAST(sum(CAST(mean_nll AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
                / count(*) * 1000000 + 0.5) / 1000000 AS loss
            FROM nll JOIN documents dd USING (doc_id) GROUP BY dd.source),
          w0 AS MATERIALIZED (
            SELECT source, loss,
              floor(1.0 / (SELECT count(*) FROM ls) * 1000000 + 0.5)
                / 1000000 AS w
            FROM ls),
          ${(1 to 5).map(wRound).mkString(",\n          ")}
          SELECT * FROM (
            SELECT 0 AS round, source, loss,
              CAST(NULL AS DOUBLE) AS excess, w AS weight FROM w0
            ${(1 to 5).map(t =>
              s"UNION ALL SELECT $t, source, loss, excess, w FROM w$t")
              .mkString("\n            ")}
          ) ORDER BY round, source"""
    },

    // t47: the shard/order/pack/hash chain digit-for-digit — t8's
    // 4-hex fold mod 8 shard rule, t13's (md5, id) within-shard
    // order, t9's 2048-token packing over that order, and the
    // order-sensitive XOR of 60-bit md5-folds of pos:id:n_tokens:
    // pack_id.
    "t47_shard_manifest" ->
      s"""WITH b AS (
            SELECT doc_id AS id,
              CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens,
              md5(CAST(doc_id AS VARCHAR) || ':graft') AS h
            FROM documents),
          s AS (
            SELECT *, list_reduce(list_transform(range(1, 5), i ->
                CAST(strpos('0123456789abcdef', substr(h, i, 1)) - 1 AS BIGINT)),
                (acc, d) -> acc * 16 + d) % 8 AS shard_id
            FROM b),
          o AS (
            SELECT *,
              CAST(row_number() OVER (PARTITION BY shard_id ORDER BY h, id)
                AS BIGINT) AS pos,
              CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard_id
                ORDER BY h, id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS prev
            FROM s),
          p AS (
            SELECT *, CAST(floor(prev / 2048.0) AS BIGINT) AS pack_id FROM o),
          f AS (
            SELECT shard_id, n_tokens, pack_id,
              list_reduce(list_transform(range(1, 16), i ->
                CAST(strpos('0123456789abcdef', substr(md5(
                  CAST(pos AS VARCHAR) || ':' || CAST(id AS VARCHAR) || ':'
                  || CAST(n_tokens AS VARCHAR) || ':'
                  || CAST(pack_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
                (acc, d) -> acc * 16 + d) AS row_fold
            FROM p)
          SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(max(pack_id) + 1 AS BIGINT) AS n_seqs,
            CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
            bit_xor(row_fold) AS content_hash
          FROM f GROUP BY shard_id ORDER BY shard_id""",

    "m1_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         sha256(text) AS sha256,
         CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / 256) AS BIGINT) AS n_chunks
         FROM documents ORDER BY doc_id""",

    // The payload is UTF-8-encoded text and the corpus is ASCII, so
    // byte values are the codepoints of the chars; byte sums are exact
    // in doubles, so mean_byte's floor-round matches bit-for-bit.
    "m2_binary_features" ->
      """WITH f AS (
           SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             CAST(greatest(1, ceil(octet_length(encode(text)) / 1024.0)) AS BIGINT) AS n_frames,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE list_sum(list_transform(range(1, length(text) + 1),
                         i -> unicode(substr(text, i, 1)))) * 1.0 / length(text) END AS mean
           FROM documents)
         SELECT doc_id, n_bytes, n_frames, floor(mean * 10000 + 0.5) / 10000 AS mean_byte
         FROM f ORDER BY doc_id""",

    "m3_extract_records" ->
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
          u AS (
            SELECT doc_id,
              unnest(list_transform(range(1, len(toks) + 1),
                i -> {'rec_idx': CAST(i - 1 AS BIGINT),
                      'rec_text': toks[i],
                      'rec_len': CAST(length(toks[i]) AS BIGINT)})) AS rec
            FROM t)
          SELECT doc_id, rec.rec_idx AS rec_idx, rec.rec_text AS rec_text,
            rec.rec_len AS rec_len
          FROM u ORDER BY doc_id, rec_idx""",

    "q23_cube" ->
      """SELECT event_type, epoch_ms(date_trunc('hour', ts)) AS hb_ms,
         count(*) AS n,
         floor(CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / count(value) * 10000 + 0.5) / 10000 AS avg_value,
         CAST(GROUPING(event_type) AS INTEGER) AS g_type,
         CAST(GROUPING(epoch_ms(date_trunc('hour', ts))) AS INTEGER) AS g_hour
         FROM events
         GROUP BY CUBE (event_type, epoch_ms(date_trunc('hour', ts)))
         ORDER BY g_type, g_hour, event_type, hb_ms""",

    "t20_tfidf" ->
      s"""WITH d AS (
            SELECT doc_id, ${toksSql(normSql)} AS toks FROM documents),
          p AS (
            SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM (
              SELECT doc_id, unnest(toks) AS term FROM d)
            GROUP BY doc_id, term),
          dfs AS (
            SELECT term, CAST(count(*) AS DOUBLE) AS df FROM p GROUP BY term),
          stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
          scored AS (
            SELECT doc_id, term,
              floor(tf * (floor(ln((s.n_docs + 1.0) / (df + 1.0)) * 1000000.0 + 0.5)
                            / 1000000.0 + 1.0) * 10000.0 + 0.5) / 10000.0 AS tfidf
            FROM p JOIN dfs USING (term) CROSS JOIN stats s)
          SELECT doc_id, term, tfidf, rank FROM (
            SELECT doc_id, term, tfidf,
              row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, term ASC) AS rank
            FROM scored)
          WHERE rank <= 3 ORDER BY doc_id, rank""",

    "t22_ppl_bucket" ->
      s"""WITH d AS (
            SELECT doc_id, ${toksSql(normSql)} AS toks FROM documents),
          p AS (
            SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM (
              SELECT doc_id, unnest(toks) AS term FROM d)
            GROUP BY doc_id, term),
          train AS (
            SELECT term, sum(tf) AS cnt FROM p
            WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 4) < 'e666'
            GROUP BY term),
          stats AS (
            SELECT sum(cnt) AS total, CAST(count(*) AS DOUBLE) AS vocab FROM train),
          scored AS (
            SELECT p.doc_id, p.tf,
              floor(ln((coalesce(t.cnt, 0.0) + 0.5)
                       / (s.total + 0.5 * (s.vocab + 1.0))) * 1000000.0 + 0.5)
                / 1000000.0 AS logp
            FROM p LEFT JOIN train t USING (term) CROSS JOIN stats s),
          base AS (
            SELECT doc_id,
              floor((-CAST(CAST(sum(CAST(tf AS DECIMAL(9,0)) * CAST(logp AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                     / sum(tf)) * 10000.0 + 0.5) / 10000.0 AS mean_nll
            FROM scored GROUP BY doc_id),
          vals AS (
            SELECT mean_nll, count(*) AS c FROM base GROUP BY mean_nll),
          cum AS (
            SELECT mean_nll, c,
              coalesce(sum(c) OVER (ORDER BY mean_nll
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before,
              sum(c) OVER () AS n
            FROM vals),
          b AS (
            SELECT mean_nll, c,
              CAST(floor(CAST(before AS DOUBLE) * 10 / n) + 1 AS BIGINT) AS bucket
            FROM cum)
          SELECT bucket, CAST(sum(c) AS BIGINT) AS n_docs,
            min(mean_nll) AS min_nll, max(mean_nll) AS max_nll
          FROM b GROUP BY bucket ORDER BY bucket""",

    "d10_chunk_dedup" ->
      s"""WITH t AS (
            SELECT doc_id, toks, len(toks) AS n FROM (
              SELECT doc_id, ${toksSql(normSql)} AS toks FROM documents)
            WHERE len(toks) > 0),
          c AS (
            SELECT doc_id,
              unnest(list_transform(range(0, CAST(ceil(CAST(n AS DOUBLE) / 20.0) AS BIGINT)),
                i -> {'idx': i,
                      'h': md5(array_to_string(list_slice(toks, i*20 + 1, i*20 + 20), ' ')),
                      'n_tok': least(20, n - i*20)})) AS u
            FROM t),
          e AS (SELECT doc_id, u.idx AS idx, u.h AS h, u.n_tok AS n_tok FROM c),
          f AS (
            SELECT h, min(struct_pack(doc_id := doc_id, idx := idx)) AS first
            FROM e GROUP BY h),
          m AS (
            SELECT e.doc_id, e.n_tok,
              ((f.first).doc_id <> e.doc_id OR (f.first).idx <> e.idx) AS dup
            FROM e JOIN f USING (h))
          SELECT doc_id, count(*) AS n_chunks,
            CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
            CAST(sum(CASE WHEN dup THEN 0 ELSE n_tok END) AS BIGINT) AS n_kept_tokens
          FROM m GROUP BY doc_id ORDER BY doc_id""",

    // d10's chunk CTEs → star links to each chunk's first occurrence →
    // 3 unrolled power iterations with decimal-exact contribution sums
    // (every arithmetic step mirrors Graph.pageRank bit-for-bit).
    "g1_pagerank" ->
      s"""WITH t AS MATERIALIZED (
            SELECT doc_id, toks, len(toks) AS n FROM (
              SELECT doc_id, ${toksSql(normSql)} AS toks FROM documents)
            WHERE len(toks) > 0),
          c AS (
            SELECT doc_id,
              unnest(list_transform(range(0, CAST(ceil(CAST(n AS DOUBLE) / 20.0) AS BIGINT)),
                i -> {'idx': i,
                      'h': md5(array_to_string(list_slice(toks, i*20 + 1, i*20 + 20), ' '))})) AS u
            FROM t),
          e AS MATERIALIZED (SELECT doc_id, u.idx AS idx, u.h AS h FROM c),
          f AS MATERIALIZED (
            SELECT h, min(struct_pack(doc_id := doc_id, idx := idx)) AS first
            FROM e GROUP BY h),
          links AS MATERIALIZED (
            SELECT DISTINCT (f.first).doc_id AS a, e.doc_id AS b
            FROM e JOIN f USING (h) WHERE (f.first).doc_id <> e.doc_id),
          ed AS MATERIALIZED (SELECT a AS src, b AS dst FROM links
                 UNION ALL SELECT b AS src, a AS dst FROM links),
          nodes AS MATERIALIZED (SELECT doc_id AS id FROM documents),
          nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
          dg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM ed GROUP BY src),
          p0 AS MATERIALIZED (
            SELECT id, coalesce(deg, CAST(0 AS BIGINT)) AS deg,
              floor(1.0 / nn.n * 1000000.0 + 0.5) / 1000000.0 AS pr
            FROM nodes LEFT JOIN dg USING (id) CROSS JOIN nn),
          m1 AS MATERIALIZED (
            SELECT ed.dst AS id,
              sum(CAST(floor(p.pr / p.deg * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6))) AS s
            FROM ed JOIN p0 p ON ed.src = p.id GROUP BY ed.dst),
          p1 AS MATERIALIZED (
            SELECT p.id, p.deg,
              floor(((1.0 - 0.85) / nn.n + 0.85 * coalesce(CAST(m.s AS DOUBLE), 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS pr
            FROM p0 p CROSS JOIN nn LEFT JOIN m1 m ON m.id = p.id),
          m2 AS MATERIALIZED (
            SELECT ed.dst AS id,
              sum(CAST(floor(p.pr / p.deg * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6))) AS s
            FROM ed JOIN p1 p ON ed.src = p.id GROUP BY ed.dst),
          p2 AS MATERIALIZED (
            SELECT p.id, p.deg,
              floor(((1.0 - 0.85) / nn.n + 0.85 * coalesce(CAST(m.s AS DOUBLE), 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS pr
            FROM p1 p CROSS JOIN nn LEFT JOIN m2 m ON m.id = p.id),
          m3 AS MATERIALIZED (
            SELECT ed.dst AS id,
              sum(CAST(floor(p.pr / p.deg * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6))) AS s
            FROM ed JOIN p2 p ON ed.src = p.id GROUP BY ed.dst),
          p3 AS MATERIALIZED (
            SELECT p.id, p.deg,
              floor(((1.0 - 0.85) / nn.n + 0.85 * coalesce(CAST(m.s AS DOUBLE), 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS pr
            FROM p2 p CROSS JOIN nn LEFT JOIN m3 m ON m.id = p.id)
          SELECT id AS doc_id, deg, pr FROM p3 ORDER BY doc_id""",

    // brute force over the (small) name dictionary: the oracle checks
    // the RESULT pair set; the Spark side must reach it through the
    // SymSpell candidate join + verify.
    "e1_fuzzy_names" ->
      """WITH d AS (SELECT p_name AS name, count(*) AS cnt FROM part GROUP BY p_name)
         SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
           a.cnt AS n_a, b.cnt AS n_b
         FROM d a JOIN d b ON a.name < b.name AND levenshtein(a.name, b.name) <= 2
         ORDER BY name_a, name_b""",

    // the full chain: brute-force pairs (truth) + recursive CC (d7
    // idiom) over the portable md5-prefix vertex ids + the canonical
    // pick replicated as a window rank
    "e2_entity_resolve" ->
      """WITH RECURSIVE d AS (
           SELECT p_name AS name, count(*) AS cnt FROM part GROUP BY p_name),
         h AS (
           SELECT name, cnt,
             list_reduce(list_transform(range(1, 16),
               i -> CAST(strpos('0123456789abcdef',
                      substr(md5(name), i, 1)) - 1 AS BIGINT)),
               (acc, dg) -> acc * 16 + dg) AS hid
           FROM d),
         p AS (
           SELECT a.hid AS ida, b.hid AS idb
           FROM h a JOIN h b
           ON a.name < b.name AND levenshtein(a.name, b.name) <= 2),
         ed AS (SELECT ida AS a, idb AS b FROM p UNION SELECT idb, ida FROM p),
         nodes AS (SELECT DISTINCT a AS id FROM ed),
         walk(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT ed.b, w.comp FROM walk w JOIN ed ON ed.a = w.id),
         cc AS (SELECT id, min(comp) AS component FROM walk GROUP BY id),
         lab AS (
           SELECT h.name, h.cnt, COALESCE(cc.component, h.hid) AS component
           FROM h LEFT JOIN cc ON cc.id = h.hid),
         can AS (
           SELECT component, name AS canonical,
             row_number() OVER (PARTITION BY component
               ORDER BY cnt DESC, name) AS rn
           FROM lab),
         agg AS (
           SELECT component, count(*) AS cluster_size, sum(cnt) AS n_rows
           FROM lab GROUP BY component)
         SELECT l.name, c.canonical, l.cnt,
           CAST(a.cluster_size AS BIGINT) AS cluster_size,
           CAST(a.n_rows AS BIGINT) AS n_rows,
           CAST(CASE WHEN l.name = c.canonical THEN 1 ELSE 0 END AS INTEGER) AS is_canonical
         FROM lab l
         JOIN can c ON c.component = l.component AND c.rn = 1
         JOIN agg a ON a.component = l.component
         ORDER BY l.name""",

    "c1_kmeans" ->
      s"""${kmeansA2Sql()}
         SELECT cid AS cluster_id, count(*) AS n_points,
           floor(CAST(CAST(sum(CAST(floor(cos * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                 / count(*) * 10000 + 0.5) / 10000 AS mean_cos
         FROM a2 GROUP BY cid ORDER BY cid""",

    "c2_cluster_sample" ->
      s"""${kmeansA2Sql()},
         sel AS (
           SELECT cid AS cluster_id, vec_id AS id,
             row_number() OVER (PARTITION BY cid ORDER BY
               list_reduce(list_transform(range(1, 14),
                 i -> CAST(strpos('0123456789abcdef',
                        substr(md5(CAST(vec_id AS VARCHAR) || ':cs'), i, 1)) - 1 AS BIGINT)),
                 (acc, dg) -> acc * 16 + dg) ASC,
               vec_id ASC) AS rank
           FROM a2)
         SELECT cluster_id, rank, id FROM sel
         WHERE rank <= 25 ORDER BY cluster_id, rank""",

    // d21's derived-k chain at SINGLE-ASSIGNMENT blocking (rn <= 1):
    // the k-derivation (ceil(count/512), lowest-id init), the fit,
    // and the home-block pair join are all replicated — the r14
    // re-scope of d11 (pinned k=4 demoted to the ClusterSpec A/B).
    "d11_semdedup" ->
      s"""${kmeansA2Sql(1, autoKInitSql(512))},
         pr AS (SELECT a2.vec_id, a2.cid, e.v FROM a2 JOIN e USING (vec_id)),
         p AS (
           SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
           FROM pr a JOIN pr b ON a.cid = b.cid AND a.vec_id < b.vec_id)
         SELECT id1, id2, round(cos, 4) AS cosine FROM p
         WHERE cos >= 0.4 ORDER BY id1, id2""",

    // d11's pair chain with the k-derivation CTE swapped in: k =
    // ceil(count(*)/512) lowest-id init — the scale knob itself is
    // what this oracle checks (blockProbes clamps to k when k < 2,
    // mirrored by the LEAST(2, k) rank bound)
    "d21_semdedup_auto" ->
      s"""${kmeansA2Sql(2, autoKInitSql(512)).replace(
             "WHERE rn <= 2",
             "WHERE rn <= LEAST(2, (SELECT count(*) FROM init))")},
         pr AS (SELECT a2.vec_id, a2.cid, e.v FROM a2 JOIN e USING (vec_id)),
         p AS (
           SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
           FROM pr a JOIN pr b ON a.cid = b.cid AND a.vec_id < b.vec_id)
         SELECT id1, id2, round(cos, 4) AS cosine FROM p
         WHERE cos >= 0.4 ORDER BY id1, id2""",

    "q24_pivot" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS hb_ms,
         CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
         CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
         CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
         CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
         CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
         FROM events GROUP BY 1 ORDER BY hb_ms""",

    // d21's derived-k 2-probe pair chain + d7's recursive-CC idiom +
    // a left join back to the corpus: the composed SemDeDup prune
    // verdict, fully replicated — the blocking is the r14 re-point
    // (VERDICT r13 #1), so the k-derivation is under this oracle too
    "d12_semdedup_prune" ->
      s"""${kmeansA2Sql(2, autoKInitSql(512))
             .replace("WHERE rn <= 2",
               "WHERE rn <= LEAST(2, (SELECT count(*) FROM init))")
             .replaceFirst("WITH", "WITH RECURSIVE")},
         pr AS (SELECT a2.vec_id, a2.cid, e.v FROM a2 JOIN e USING (vec_id)),
         p AS (
           SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
           FROM pr a JOIN pr b ON a.cid = b.cid AND a.vec_id < b.vec_id
           WHERE list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4),
         ed AS (SELECT id1 AS a, id2 AS b FROM p UNION SELECT id2, id1 FROM p),
         nodes AS (SELECT DISTINCT a AS id FROM ed),
         walk(id, comp) AS (
           SELECT id, CAST(id AS BIGINT) FROM nodes
           UNION
           SELECT ed.b, w.comp FROM walk w JOIN ed ON ed.a = w.id),
         cc AS (SELECT id, min(comp) AS component FROM walk GROUP BY id),
         v2 AS (SELECT id, component,
                  CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size,
                  CAST(CASE WHEN id = component THEN 1 ELSE 0 END AS INTEGER) AS keep
                FROM cc)
         SELECT e.vec_id AS id,
           COALESCE(v2.component, e.vec_id) AS component,
           COALESCE(v2.cluster_size, CAST(1 AS BIGINT)) AS cluster_size,
           COALESCE(v2.keep, CAST(1 AS INTEGER)) AS keep
         FROM e LEFT JOIN v2 ON v2.id = e.vec_id ORDER BY id""",

    // 32-term integer interleave replicated literally — bit arithmetic
    // is the portable-by-construction case
    "q26_zorder" -> {
      val zTerms = (0 until 16).map(i =>
        s"(((u16 >> $i) & 1) << ${2 * i}) + (((m16 >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH e AS (
           SELECT ((epoch_ms(ts) // 60000) % 65536) AS m16,
                  (user_id % 65536) AS u16
           FROM events),
         z AS (SELECT CAST($zTerms AS BIGINT) AS z FROM e)
         SELECT z // 65536 AS z_bucket, count(*) AS n_events,
           min(z) AS z_min, max(z) AS z_max
         FROM z GROUP BY 1 ORDER BY z_bucket"""
    },

    "q27_scd2" ->
      """WITH e AS (
           SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id
           FROM events),
         c AS (
           SELECT *, CASE WHEN row_number() OVER w = 1
                            OR lag(event_type) OVER w IS DISTINCT FROM event_type
                       THEN 1 ELSE 0 END AS chg
           FROM e
           WINDOW w AS (PARTITION BY user_id
                        ORDER BY ts_ms, event_id, event_type)),
         v AS (
           SELECT *, CAST(sum(chg) OVER (
               PARTITION BY user_id ORDER BY ts_ms, event_id, event_type
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
           FROM c),
         g AS (
           SELECT user_id, version, min(event_type) AS event_type,
             min(ts_ms) AS valid_from
           FROM v GROUP BY 1, 2)
         SELECT user_id, version, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to
         FROM g ORDER BY user_id, version""",

    // q27's history chain + the point-in-time lookup join: each event
    // matches the unique half-open version interval covering its ts
    "q31_pit_join" ->
      """WITH e AS (
           SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id
           FROM events),
         c AS (
           SELECT *, CASE WHEN row_number() OVER w = 1
                            OR lag(event_type) OVER w IS DISTINCT FROM event_type
                       THEN 1 ELSE 0 END AS chg
           FROM e
           WINDOW w AS (PARTITION BY user_id
                        ORDER BY ts_ms, event_id, event_type)),
         v AS (
           SELECT *, CAST(sum(chg) OVER (
               PARTITION BY user_id ORDER BY ts_ms, event_id, event_type
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
           FROM c),
         g AS (
           SELECT user_id, version, min(event_type) AS event_type,
             min(ts_ms) AS valid_from
           FROM v GROUP BY 1, 2),
         h AS (
           SELECT user_id, version, event_type, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to
           FROM g)
         SELECT f.event_id, f.user_id, epoch_ms(f.ts) AS ts_ms,
           h.event_type AS state, h.version
         FROM events f LEFT JOIN h ON f.user_id = h.user_id
           AND epoch_ms(f.ts) >= h.valid_from
           AND (h.valid_to IS NULL OR epoch_ms(f.ts) < h.valid_to)
         ORDER BY f.event_id""",

    // the z expression is ONE double tree over exact integer window
    // sums — written identically on the Spark side (Enrich.rateAnomaly)
    "q32_rate_anomaly" ->
      """WITH m AS (
           SELECT event_type AS grp,
             epoch_ms(date_trunc('minute', ts)) AS minute_ms,
             count(*) AS cnt
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT grp, minute_ms, cnt,
             count(*) OVER win AS n,
             sum(cnt) OVER win AS s,
             sum(cnt * cnt) OVER win AS s2
           FROM m
           WINDOW win AS (PARTITION BY grp ORDER BY minute_ms
                          ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
         z AS (
           SELECT grp, minute_ms, cnt,
             CASE WHEN n >= 5 AND
                 (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                    / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE) > 0.0
               THEN floor((CAST(cnt AS DOUBLE)
                   - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                 / sqrt((CAST(s2 AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                   / CAST(n - 1 AS DOUBLE)) * 10000 + 0.5) / 10000
             END AS z
           FROM w)
         SELECT grp, minute_ms, cnt, z,
           CAST(CASE WHEN z IS NOT NULL AND abs(z) >= 3.0
                THEN 1 ELSE 0 END AS BIGINT) AS anomaly
         FROM z ORDER BY grp, minute_ms""",

    // the naive per-stage self-join form the Spark operator avoids —
    // correct semantics, so it serves as the oracle: stage k = min ts
    // strictly after stage k-1's resolved ts, NULL cascade past a
    // missed stage, every user keeps a row
    "q28_funnel" ->
      """WITH s1 AS (
           SELECT user_id, min(epoch_ms(ts)) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (
           SELECT e.user_id, min(epoch_ms(e.ts)) AS t2 FROM events e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND epoch_ms(e.ts) > s1.t1
           GROUP BY e.user_id),
         s3 AS (
           SELECT e.user_id, min(epoch_ms(e.ts)) AS t3 FROM events e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > s2.t2
           GROUP BY e.user_id),
         u AS (SELECT DISTINCT user_id FROM events)
         SELECT u.user_id, s1.t1 AS ts_view, s2.t2 AS ts_click,
           s3.t3 AS ts_purchase
         FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
         LEFT JOIN s3 USING (user_id)
         ORDER BY u.user_id""",

    "q29_json_props" ->
      """SELECT event_type AS grp, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(k) AS BIGINT) AS n_parsed,
           min(k) AS v_min, max(k) AS v_max, CAST(sum(k) AS BIGINT) AS v_sum,
           floor(CAST(CAST(sum(k) AS VARCHAR) AS DOUBLE) / count(k) * 10000.0 + 0.5) / 10000.0 AS v_avg
         FROM (
           SELECT event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
           FROM events)
         GROUP BY event_type ORDER BY grp""",

    "q25_range_join" ->
      """WITH win AS (
           SELECT event_id AS incident_id, epoch_ms(ts) AS start_ms
           FROM events WHERE event_type = 'error'),
         ev AS (SELECT epoch_ms(ts) AS t_ms, user_id FROM events),
         j AS (
           SELECT win.incident_id, win.start_ms, ev.user_id
           FROM win JOIN ev
             ON ev.t_ms >= win.start_ms AND ev.t_ms < win.start_ms + 600000)
         SELECT incident_id, start_ms, count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM j GROUP BY 1, 2 ORDER BY incident_id, start_ms""",

    // m5: CDC boundaries replicated on the text form (ASCII payloads:
    // byte values == codepoints), chunk ids via the portable md5 fold,
    // the same df-capped index + exact-Jaccard verify the Spark op
    // runs. The variant construction (header + 30-byte excision of
    // every 20th >= 400-char doc under ids +1e9) is part of the query.
    "m5_payload_neardup" ->
      """WITH var AS (SELECT doc_id + 1000000000 AS doc_id,
              'HDRv2 q50 ' || substr(text, 1, 100) || substr(text, 131) AS text
            FROM documents WHERE doc_id % 20 = 0 AND n_chars >= 400),
          corpus AS (SELECT doc_id, text FROM documents
                     UNION ALL SELECT doc_id, text FROM var),
          c AS (SELECT doc_id, text,
              list_transform(range(1, length(text) + 1),
                i -> CAST(unicode(substr(text, i, 1)) AS BIGINT)) AS codes
            FROM corpus WHERE length(text) > 0),
          g AS (SELECT doc_id, text,
              CASE WHEN len(codes) < 8 THEN CAST([] AS BIGINT[])
                   ELSE list_transform(range(1, len(codes) - 6),
                          i -> list_reduce(list_slice(codes, i, i + 7),
                                 (acc, x) -> (acc * 31 + x) % 1000000007)) END AS gh
            FROM c),
          cuts AS (SELECT doc_id, text,
              list_filter(range(1, len(gh) + 1), i -> gh[i] % 16 = 0) AS cut_i
            FROM g),
          bounds AS (SELECT doc_id, text,
              list_prepend(CAST(0 AS BIGINT),
                list_transform(cut_i, i -> CAST(i + 7 AS BIGINT))) AS bs
            FROM cuts),
          strs AS (SELECT doc_id,
              list_filter(list_transform(range(1, len(bs) + 1),
                j -> substr(text, CAST(bs[j] + 1 AS INT),
                  CAST((CASE WHEN j = len(bs) THEN length(text)
                             ELSE bs[j+1] END) - bs[j] AS INT))),
                x -> x <> '') AS cs
            FROM bounds),
          chunks AS (SELECT doc_id,
              unnest(list_distinct(list_transform(cs, x ->
                list_reduce(list_transform(range(1, 16),
                  i -> CAST(strpos('0123456789abcdef', substr(md5(x), i, 1)) - 1 AS BIGINT)),
                  (acc, d) -> acc * 16 + d)))) AS h
            FROM strs),
          sets AS (SELECT doc_id, list_sort(list(h)) AS hs, count(*) AS n
                   FROM chunks GROUP BY doc_id),
          rare AS (SELECT h FROM chunks GROUP BY h
                   HAVING count(*) BETWEEN 2 AND 20),
          cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                   FROM chunks a JOIN rare USING (h) JOIN chunks b USING (h)
                   WHERE a.doc_id < b.doc_id),
          v AS (SELECT id1, id2,
              len(list_intersect(sa.hs, sb.hs)) * 1.0 AS inter,
              sa.n + sb.n AS szsum
            FROM cand JOIN sets sa ON sa.doc_id = cand.id1
                      JOIN sets sb ON sb.doc_id = cand.id2)
          SELECT id1, id2, jaccard FROM (
            SELECT id1, id2,
              floor((CASE WHEN szsum - inter = 0 THEN 0
                          ELSE inter / (szsum - inter) END) * 10000 + 0.5)
                / 10000 AS jaccard
            FROM v)
          WHERE jaccard >= 0.5 ORDER BY id1, id2""",

    // md5 of the UTF-8 text bytes == md5 of the encoded payload, so
    // the oracle fingerprints the text directly
    "m4_binary_dedup" ->
      """WITH f AS (SELECT doc_id, md5(text) AS fp FROM documents),
         c AS (SELECT fp, min(doc_id) AS canonical_id FROM f
               WHERE fp IS NOT NULL GROUP BY fp)
         SELECT f.doc_id, f.fp,
           coalesce(c.canonical_id, f.doc_id) AS canonical_id,
           CAST(CASE WHEN f.doc_id <> coalesce(c.canonical_id, f.doc_id)
                THEN 1 ELSE 0 END AS INTEGER) AS is_dup
         FROM f LEFT JOIN c USING (fp) ORDER BY f.doc_id""",

    "q34_active_users" ->
      """WITH ud AS (
           SELECT DISTINCT user_id, epoch_ms(date_trunc('day', ts)) AS d
           FROM events),
         dau AS (SELECT d AS day_ms, CAST(count(*) AS BIGINT) AS dau
                 FROM ud GROUP BY d),
         cover AS (
           SELECT DISTINCT user_id, d + 86400000 * o AS w
           FROM ud, (SELECT unnest(range(7)) AS o)),
         wau AS (SELECT w AS day_ms, CAST(count(*) AS BIGINT) AS wau
                 FROM cover GROUP BY w)
         SELECT day_ms, dau, wau,
           floor(CAST(dau AS DOUBLE) / wau * 10000 + 0.5) / 10000 AS stickiness
         FROM dau JOIN wau USING (day_ms) ORDER BY day_ms""",

    // single-pass truth: the query merges two disjoint slice states;
    // equality here IS the mergeability proof
    "q36_rollup_merge" ->
      """SELECT event_type, epoch_ms(date_trunc('hour', ts)) AS hb_ms,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE), 2) AS sum_value,
           floor(CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / count(*)
             * 10000 + 0.5) / 10000 AS avg_value
         FROM events GROUP BY 1, 2 ORDER BY event_type, hb_ms""",

    // brute-force truth (mechanism-independent — validates the grid
    // blocking's recall-1.0 claim, not just its arithmetic); filter
    // on the UNROUNDED squared distance, 6dp round on output
    "q38_spatial_join" ->
      """WITH pts AS (
           SELECT c_custkey AS id,
             35.2226 + CAST(c_custkey % 21 - 10 AS DOUBLE) * 0.01 AS lat,
             -97.4395 + CAST(CAST(floor(c_custkey / 21.0) AS BIGINT) % 21 - 10 AS DOUBLE) * 0.01 AS lon
           FROM customer WHERE c_custkey % 5 = 0)
         SELECT a.id AS id1, b.id AS id2,
           floor(sqrt((a.lat - b.lat) * (a.lat - b.lat)
                    + (a.lon - b.lon) * (a.lon - b.lon)) * 1000000 + 0.5)
             / 1000000 AS dist
         FROM pts a JOIN pts b ON a.id < b.id
         WHERE (a.lat - b.lat) * (a.lat - b.lat)
             + (a.lon - b.lon) * (a.lon - b.lon) <= 0.025 * 0.025
         ORDER BY id1, id2""",

    // bin = floor((r - min)/w) clamped to bins-1, w = (max-min)/20,
    // all on 4dp-rounded values; empty bins surface as 0
    "q37_histogram" ->
      """WITH st AS (
           SELECT event_type AS grp,
             floor(CAST(value AS DOUBLE) * 10000 + 0.5) / 10000 AS r
           FROM events WHERE value IS NOT NULL),
         s AS (SELECT grp, min(r) AS vmin, max(r) AS vmax FROM st GROUP BY grp),
         c AS (
           SELECT st.grp,
             CASE WHEN s.vmax = s.vmin THEN 0
               ELSE CAST(least(floor((st.r - s.vmin) / ((s.vmax - s.vmin) / 20.0)),
                 19) AS INTEGER) END AS bin,
             CAST(count(*) AS BIGINT) AS n
           FROM st JOIN s USING (grp) GROUP BY 1, 2),
         f AS (
           SELECT grp, vmin, vmax, unnest(range(20)) AS bin FROM s)
         SELECT f.grp, CAST(f.bin AS INTEGER) AS bin,
           floor((f.vmin + f.bin * ((f.vmax - f.vmin) / 20.0)) * 1000000 + 0.5)
             / 1000000 AS bin_lo,
           coalesce(c.n, CAST(0 AS BIGINT)) AS n
         FROM f LEFT JOIN c ON c.grp = f.grp AND c.bin = f.bin
         ORDER BY f.grp, bin""",

    // 4dp-round first, DECIMAL sums, one-expression stddev, t10's
    // quantile_cont parity on the rounded values
    "q35_value_profile" ->
      """WITH st AS (
           SELECT event_type AS grp, value AS v,
             floor(CAST(value AS DOUBLE) * 10000 + 0.5) / 10000 AS r
           FROM events),
         a AS (
           SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) - count(v) AS BIGINT) AS n_null,
             min(v) AS v_min, max(v) AS v_max,
             CAST(CAST(sum(CAST(r AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS s,
             CAST(CAST(sum(CAST(CAST(r AS DECIMAL(28,4)) * CAST(r AS DECIMAL(28,4))
               AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS s2,
             CAST(count(v) AS DOUBLE) AS nv,
             quantile_cont(r, 0.5) AS q50, quantile_cont(r, 0.9) AS q90
           FROM st GROUP BY grp)
         SELECT grp, n, n_null, v_min, v_max,
           floor(s / nv * 1000000 + 0.5) / 1000000 AS v_mean,
           CASE WHEN nv >= 2 THEN
             floor(sqrt((s2 - s * s / nv) / (nv - 1)) * 1000000 + 0.5) / 1000000
           END AS v_std,
           floor(q50 * 1000000 + 0.5) / 1000000 AS p50,
           floor(q90 * 1000000 + 0.5) / 1000000 AS p90
         FROM a ORDER BY grp""",

    "q33_retention" ->
      """WITH f AS (
           SELECT user_id, epoch_ms(date_trunc('day', min(ts))) AS cohort_ms
           FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         ua AS (
           SELECT DISTINCT user_id, epoch_ms(date_trunc('day', ts)) AS day_ms
           FROM events),
         j AS (
           SELECT f.cohort_ms,
             CAST((ua.day_ms - f.cohort_ms) // 86400000 AS INTEGER) AS offset_days
           FROM ua JOIN f USING (user_id) WHERE ua.day_ms >= f.cohort_ms)
         SELECT cohort_ms, offset_days, CAST(count(*) AS BIGINT) AS n_users
         FROM j GROUP BY 1, 2 ORDER BY cohort_ms, offset_days""",

    // d4's gram machinery, but DIRECTED: each unordered pair emits up
    // to two containment rows (inter/|sub|); gram-less docs excluded
    // (no containment evidence), 4dp floor-round before the threshold
    "d17_containment" ->
      s"""WITH prep AS (
            SELECT doc_id, source AS block,
              list_distinct(list_transform(range(1, len(${toksSql(normSql)}) - 1),
                i -> concat_ws(' ', ${toksSql(normSql)}[i], ${toksSql(normSql)}[i+1], ${toksSql(normSql)}[i+2]))) AS grams
            FROM documents),
          pairs AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2,
              CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) AS inter,
              len(a.grams) AS n1, len(b.grams) AS n2
            FROM prep a JOIN prep b ON a.block = b.block AND a.doc_id < b.doc_id
            WHERE len(a.grams) > 0 AND len(b.grams) > 0),
          d AS (
            SELECT id1 AS id_sub, id2 AS id_sup,
              floor(inter / n1 * 10000 + 0.5) / 10000 AS containment FROM pairs
            UNION ALL
            SELECT id2, id1, floor(inter / n2 * 10000 + 0.5) / 10000 FROM pairs)
          SELECT id_sub, id_sup, containment FROM d
          WHERE containment >= 0.5 ORDER BY id_sub, id_sup""",

    // g2's pair graph; 3 SYNCHRONOUS vote rounds unrolled — argmax by
    // (vote count DESC, label ASC), labels init to the vertex id
    "g3_label_prop" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (
           SELECT a.vec_id AS ida, b.vec_id AS idb
           FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.2),
         ed AS (SELECT ida AS src, idb AS dst FROM p UNION ALL SELECT idb, ida FROM p),
         l0 AS (SELECT DISTINCT src AS id, CAST(src AS BIGINT) AS label FROM ed),
         v1 AS (SELECT ed.dst AS id, l.label, count(*) AS c FROM ed JOIN l0 l ON ed.src = l.id GROUP BY 1, 2),
         l1 AS (SELECT id, label FROM (SELECT id, label,
             row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn FROM v1) WHERE rn = 1),
         v2 AS (SELECT ed.dst AS id, l.label, count(*) AS c FROM ed JOIN l1 l ON ed.src = l.id GROUP BY 1, 2),
         l2 AS (SELECT id, label FROM (SELECT id, label,
             row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn FROM v2) WHERE rn = 1),
         v3 AS (SELECT ed.dst AS id, l.label, count(*) AS c FROM ed JOIN l2 l ON ed.src = l.id GROUP BY 1, 2),
         l3 AS (SELECT id, label FROM (SELECT id, label,
             row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn FROM v3) WHERE rn = 1),
         sz AS (SELECT label, CAST(count(*) AS BIGINT) AS n_members FROM l3 GROUP BY label)
         SELECT l3.id, l3.label, sz.n_members FROM l3 JOIN sz USING (label) ORDER BY id""",

    // d8's 4-band count-derived band-replication chain, then each
    // undirected candidate feeds BOTH endpoints and ranks
    // (cosine DESC, neighbor) per id
    "s10_knn_graph" -> {
      val sigTerms = sigTermsSql(60)
      knnRankSql(s"""WITH params AS (
            SELECT COALESCE(MIN(b), 15) AS bits
            FROM (SELECT unnest(range(2, 16)) AS b),
                 (SELECT count(*) AS c FROM embeddings) n
            WHERE CAST(2 ** b AS BIGINT) * 64 >= n.c),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          sigs AS (SELECT vec_id, CAST($sigTerms AS BIGINT) AS sig FROM e),
          bb AS (
            SELECT vec_id, b,
              (sig // CAST(2 ** (b * bits) AS BIGINT)) % CAST(2 ** bits AS BIGINT) AS bv
            FROM sigs, (SELECT unnest(range(4)) AS b), params)""")
    },

    // s10's symmetric ranking over d9's count-derived banding params
    // (shared-prefix 60-plane signatures; bits from count(*))
    "s11_knn_auto" -> {
      val sigTerms = sigTermsSql(60)
      knnRankSql(s"""WITH params AS (
            SELECT COALESCE(MIN(b), 10) AS bits
            FROM (SELECT unnest(range(2, 11)) AS b),
                 (SELECT count(*) AS c FROM embeddings) n
            WHERE CAST(2 ** b AS BIGINT) * 64 >= n.c),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          sigs AS (SELECT vec_id, CAST($sigTerms AS BIGINT) AS sig FROM e),
          bb AS (
            SELECT vec_id, b,
              (sig // CAST(2 ** (b * bits) AS BIGINT)) % CAST(2 ** bits AS BIGINT) AS bv
            FROM sigs, (SELECT unnest(range(6)) AS b), params)""")
    },

    // brute-force radius truth: every (probe, corpus) pair above the
    // floor; filter on the UNROUNDED cosine, 4dp round on output (d5)
    "s9_range_search" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (SELECT vec_id, v FROM e WHERE vec_id % 100 = 0),
         s AS (
           SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_dot_product(p.v, c.v)
               / (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
           FROM p JOIN e c ON p.vec_id <> c.vec_id)
         SELECT query_id, neighbor_id, round(cos, 4) AS cosine FROM s
         WHERE cos >= 0.25 ORDER BY query_id, neighbor_id""",

    // t30's quality CTEs as the WEIGHT; u from the 60-bit md5 fold of
    // (doc_id:ws), A-ES key = 6dp-floor-rounded ln(u) / w, top-20 per
    // lang by (skey DESC, doc_id); weight <= 0 rows excluded
    "t31_weighted_sample" ->
      s"""WITH f AS (
            SELECT doc_id, lang,
              CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens,
              CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS BIGINT) AS n_punct,
              CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
              CAST(len(list_filter(${toksSql("lower(text)")},
                t -> t IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS n_stopwords,
              length(text) AS n_chars_raw
            FROM documents),
          q AS (
            SELECT doc_id, lang,
              floor((
                0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                + 0.4 * least(CASE WHEN n_tokens = 0 THEN 0.0
                    ELSE CAST(n_stopwords AS DOUBLE) / n_tokens END * 5.0, 1.0)
                + 0.2 * (1.0 - least((
                    (CASE WHEN n_chars_raw = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / n_chars_raw END)
                    + (CASE WHEN n_chars_raw = 0 THEN 0.0 ELSE CAST(n_digit AS DOUBLE) / n_chars_raw END)
                  ) * 5.0, 1.0))) * 10000 + 0.5) / 10000 AS quality
            FROM f),
          h AS (
            SELECT doc_id, lang, quality,
              list_reduce(list_transform(range(1, 16),
                i -> CAST(strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR) || ':ws'), i, 1)) - 1 AS BIGINT)),
                (acc, dg) -> acc * 16 + dg) AS hv
            FROM q WHERE quality > 0.0),
          s AS (
            SELECT lang AS grp, doc_id AS id,
              floor(ln(CAST(hv + 1 AS DOUBLE) / 1152921504606846976.0) * 1000000 + 0.5)
                / 1000000 / quality AS skey
            FROM h),
          r AS (SELECT grp, id, skey,
            row_number() OVER (PARTITION BY grp ORDER BY skey DESC, id) AS rank FROM s)
          SELECT grp, CAST(rank AS INTEGER) AS rank, id,
            floor(skey * 1000000 + 0.5) / 1000000 AS skey
          FROM r WHERE rank <= 20 ORDER BY grp, rank""",

    // pair mass M sums over ALL pairs before the minCount prune; PMI
    // argument = cp*N*N / (M*ca*cb) with the denominator in DOUBLE
    // from the first factor, 6dp-floor-rounded ln (t18 recipe)
    "t33_pmi" ->
      s"""WITH t AS (SELECT ${toksSql(normSql)} AS toks FROM documents),
          nn AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS n FROM t),
          cu AS (SELECT tk, CAST(count(*) AS BIGINT) AS cu
                 FROM (SELECT unnest(toks) AS tk FROM t) GROUP BY tk),
          pr AS (
            SELECT least(toks[i], toks[i + d]) AS a,
                   greatest(toks[i], toks[i + d]) AS b
            FROM (SELECT toks, unnest(generate_series(1, len(toks))) AS i FROM t)
            CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS d)
            WHERE i + d <= len(toks)),
          cp AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cp FROM pr GROUP BY a, b),
          mm AS (SELECT CAST(sum(cp) AS BIGINT) AS m FROM cp),
          s AS (
            SELECT cp.a, cp.b, cp.cp,
              floor(ln(CAST(cp.cp AS DOUBLE) * nn.n * nn.n
                       / (CAST(mm.m AS DOUBLE) * ca.cu * cb.cu)) * 1000000 + 0.5)
                / 1000000 AS pmi
            FROM cp
            JOIN cu ca ON ca.tk = cp.a
            JOIN cu cb ON cb.tk = cp.b
            CROSS JOIN nn CROSS JOIN mm
            WHERE cp.cp >= 5)
          SELECT a, b, cp AS n_pair, pmi FROM s
          ORDER BY pmi DESC, a, b LIMIT 50""",

    // distinct (source, gram) set → self-join on the gram key; the
    // groups x groups frame keeps zero-overlap cells as 0.0
    "t32_source_overlap" ->
      s"""WITH t AS (
            SELECT source AS grp, ${toksSql(normSql)} AS toks FROM documents),
          g AS (
            SELECT grp, list_transform(range(1, len(toks) - 1),
              i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS grams
            FROM t),
          gs AS (SELECT DISTINCT grp, unnest(grams) AS gm FROM g),
          totals AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_a FROM gs GROUP BY grp),
          shared AS (
            SELECT a.grp AS grp_a, b.grp AS grp_b, CAST(count(*) AS BIGINT) AS n_shared
            FROM gs a JOIN gs b ON a.gm = b.gm AND a.grp <> b.grp
            GROUP BY 1, 2),
          frame AS (
            SELECT ta.grp AS grp_a, tb.grp AS grp_b, ta.n_a
            FROM totals ta JOIN totals tb ON ta.grp <> tb.grp)
          SELECT grp_a, grp_b, n_a,
            coalesce(n_shared, CAST(0 AS BIGINT)) AS n_shared,
            floor(CAST(coalesce(n_shared, 0) AS DOUBLE) / CAST(n_a AS DOUBLE) * 10000 + 0.5)
              / 10000 AS containment
          FROM frame LEFT JOIN shared USING (grp_a, grp_b)
          ORDER BY grp_a, grp_b"""
  )

  /** Shared CTE chain for the c1/c2/d11 oracles: k-means init (4
    * lowest ids) → raw-cosine argmax assignment → decimal-exact 6dp
    * centroid recomputation → final assignment `a2(vec_id, cid, cos)`
    * — replicates `Cluster.kmeansAssign(k = 4, iters = 1)`
    * bit-for-bit. `probes` > 1 keeps each point's `probes` nearest
    * final centroids in a2 (d11's multi-probe BLOCKING; rn ordering
    * is (cos DESC, cid ASC), the same tie rule as the argmax).
    */
  /** s8's oracle: the greedy MMR trajectory unrolled — pick i's CTE
    * joins the i−1 single-row picks, penalty = greatest of the
    * 6dp-rounded cosines to them, argmax by (6dp score desc, id). The
    * centroid reuses the c1 decimal-mean recipe. λ and 1−λ are
    * emitted from the SAME doubles Spark multiplies by, so both
    * engines run identical IEEE arithmetic between the roundings.
    */
  /** s7's full PQ/ADC chain through the `ranked` CTE (adist asc,
    * neighbor asc) — shared by the s7 oracle (rank <= 5) and s12's
    * two-stage rerank oracle (rank <= 50 candidates, exact-cosine
    * rerank): per-subspace codebooks (lowest-id init, one Lloyd step
    * with the c1 decimal-mean recipe, L2 assignment in the reduced
    * c·c − 2·x·c form), corpus encoding, probe ADC tables, and the
    * decimal-exact adist sum.
    */
  private val pqRankedSql: String = pqRankedSqlPruned("", "")

  /** The s7 ADC chain with an optional IVF prune spliced in:
    * `pruneCtes` adds list-assignment CTEs before `ad`, `pruneJoins`
    * adds the corpus-list ⋈ probe-list equi-join restricting which
    * (query, candidate) pairs are scored. Empty strings yield exactly
    * the s7/s12 oracle; s13 passes the coarse-quantizer CTEs
    * (replicating `Similarity.ivfPqTopK`'s s3-recipe list assignment).
    */
  /** The s13/s14 IVF prune: coarse-quantizer CTEs (s3's hash-order
    * sampled centroids, dot/|c| argmax with lower-ci ties) + the
    * corpus-list ⋈ probe-list equi-join restricting the ADC scan.
    */
  private val ivfPruneCtes: String =
    """ivfc AS (
           SELECT row_number() OVER (ORDER BY ((vec_id % 1000003) * 999983 + 101) % 1000003, vec_id) - 1 AS ci, v AS cv
           FROM e ORDER BY ((vec_id % 1000003) * 999983 + 101) % 1000003, vec_id LIMIT 16),
         ivfs AS (
           SELECT e.vec_id, n.ci, list_dot_product(e.v, n.cv) / n.cnorm AS s
           FROM e, (SELECT ci, cv, sqrt(list_dot_product(cv, cv)) AS cnorm FROM ivfc) n),
         clist AS (
           SELECT vec_id, ci FROM (
             SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS rn
             FROM ivfs) t WHERE rn = 1),
         plist AS (
           SELECT vec_id AS query_id, ci FROM (
             SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS rn
             FROM ivfs WHERE vec_id % 100 = 0) t WHERE rn <= 4),
         """

  private val ivfPruneJoins: String =
    """
           JOIN clist cl ON cl.vec_id = c.vec_id
           JOIN plist pl ON pl.query_id = t.query_id AND pl.ci = cl.ci"""

  private def pqRankedSqlPruned(pruneCtes: String, pruneJoins: String): String =
    s"""WITH e AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         sv AS (
           SELECT vec_id, s, list_slice(v, s*8 + 1, s*8 + 8) AS x
           FROM e, (SELECT unnest(range(8)) AS s)),
         init AS (
           SELECT s, CAST(row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             x AS c
           FROM sv WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 64)),
         a1 AS (
           SELECT s, vec_id, x, cid FROM (
             SELECT sv.s, sv.vec_id, sv.x, i.cid,
               row_number() OVER (PARTITION BY sv.s, sv.vec_id ORDER BY
                 list_dot_product(i.c, i.c) - 2 * list_dot_product(sv.x, i.c) ASC,
                 i.cid ASC) AS rn
             FROM sv JOIN init i ON sv.s = i.s) WHERE rn = 1),
         comp AS (
           SELECT s, cid, u.d AS d,
             CAST(floor(u.x * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS xq
           FROM (SELECT s, cid, unnest(list_transform(range(1, len(x) + 1),
                   j -> struct_pack(d := j, x := x[j]))) AS u FROM a1)),
         cent AS (
           SELECT s, cid, d,
             floor(CAST(CAST(sum(xq) AS VARCHAR) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS cx
           FROM comp GROUP BY s, cid, d),
         books AS (SELECT s, cid, list(cx ORDER BY d) AS c FROM cent GROUP BY s, cid),
         codes AS (
           SELECT s, vec_id, cid AS code FROM (
             SELECT sv.s, sv.vec_id, b.cid,
               row_number() OVER (PARTITION BY sv.s, sv.vec_id ORDER BY
                 list_dot_product(b.c, b.c) - 2 * list_dot_product(sv.x, b.c) ASC,
                 b.cid ASC) AS rn
             FROM sv JOIN books b ON sv.s = b.s) WHERE rn = 1),
         p AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0),
         prq AS (
           SELECT query_id,
             CAST(floor(list_dot_product(qv, qv) * 1000000 + 0.5) / 1000000
               AS DECIMAL(18,6)) AS qq
           FROM p),
         tab AS (
           SELECT p.query_id, b.s, b.cid,
             CAST(floor((list_dot_product(b.c, b.c)
               - 2 * list_dot_product(list_slice(p.qv, b.s*8 + 1, b.s*8 + 8), b.c))
               * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS rq
           FROM p CROSS JOIN books b),
         ${pruneCtes}ad AS (
           SELECT t.query_id, c.vec_id AS neighbor_id,
             CAST(any_value(prq.qq) + sum(t.rq) AS DOUBLE) AS adist
           FROM codes c
           JOIN tab t ON c.s = t.s AND c.code = t.cid${pruneJoins}
           JOIN prq ON prq.query_id = t.query_id
           WHERE c.vec_id <> t.query_id
           GROUP BY t.query_id, c.vec_id),
         ranked AS (
           SELECT query_id, neighbor_id, adist,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY adist ASC, neighbor_id ASC) AS INTEGER) AS rank
           FROM ad)"""

  private def mmrOracleSql(k: Int = 5, lam: Double = 0.7): String = {
    def cosS(a: String, b: String) =
      s"(CASE WHEN sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)) = 0 THEN 0" +
      s" ELSE list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))) END)"
    def fr6(x: String) = s"floor(($x) * 1000000 + 0.5) / 1000000"
    val head =
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
          comp AS (SELECT u.d AS d, CAST(${fr6("u.x")} AS DECIMAL(18,6)) AS xq
            FROM (SELECT unnest(list_transform(range(1, len(v) + 1),
                    j -> struct_pack(d := j, x := v[j]))) AS u FROM e)),
          cen AS (SELECT list(cx ORDER BY d) AS c FROM
            (SELECT d, ${fr6("CAST(CAST(sum(xq) AS VARCHAR) AS DOUBLE) / count(*)")} AS cx
             FROM comp GROUP BY d)),
          r AS (SELECT vec_id, v, ${fr6(cosS("v", "c"))} AS rel FROM e CROSS JOIN cen)"""
    val iters = (1 to k).map { i =>
      val prev = (1 until i).map(j => s"p$j")
      val pen =
        if (prev.isEmpty) "0"
        else if (prev.size == 1) fr6(cosS("r.v", "p1.v"))
        else "greatest(" + prev.map(p => fr6(cosS("r.v", s"$p.v"))).mkString(", ") + ")"
      val from = ("r" +: prev).mkString(", ")
      val notin =
        if (prev.isEmpty) ""
        else s"WHERE r.vec_id NOT IN (${prev.map(p => s"$p.vec_id").mkString(", ")})"
      s"""p$i AS (SELECT r.vec_id, r.v, r.rel,
            ${fr6(s"$lam * r.rel - ${1.0 - lam} * ($pen)")} AS score
          FROM $from $notin ORDER BY score DESC, r.vec_id LIMIT 1)"""
    }
    val sel = (1 to k).map(i =>
      s"SELECT CAST($i AS INTEGER) AS rank, vec_id, rel AS relevance, score AS mmr_score FROM p$i")
      .mkString("\n UNION ALL ")
    head + ",\n" + iters.mkString(",\n") + "\n" + sel + "\n ORDER BY rank"
  }

  /** The auto-k init for [[kmeansA2Sql]]: k = ceil(count(*) /
    * targetBlock) lowest-id vectors, replicating
    * `Cluster.semDedupPairsAuto`'s derivation as a scalar subquery.
    */
  /** t37's Viterbi dp as DuckDB SQL — mirrors
    * `TextAnalysis.viterbiPieces` exactly (see its Scaladoc for the
    * determinism contract: l-ascending candidate scan, strict-greater
    * replacement, −1e18 unreachable sentinel, clamped prefix index).
    * DuckDB's `list_reduce` has no separate init value, so the
    * position index rides the fold ELEMENTS as 1-struct dp lists and
    * the true init dp[0] is prepended. The candidate max is an
    * UNROLLED CASE chain — the same structure as the Spark side's
    * when-chain — and deliberately NOT an inner
    * list_filter/list_reduce: DuckDB 1.0 mis-evaluates that nested-
    * lambda form at volume (correct on a 2-row probe, wrong answers —
    * including empty pieces — on the same data at hundreds of rows;
    * bisected at sf1 during round 9).
    */
  private def t37ViterbiSql(w: String, m: String, maxPieceLen: Int): String = {
    val j = "CAST(x[1].s AS INT)"
    val best = (1 to maxPieceLen).foldLeft(
        "{'s': -1e18, 'p': CAST([] AS VARCHAR[])}") { (b, l) =>
      val pc = s"substr($w, $j - $l + 1, $l)"
      val lp = s"list_extract(map_extract($m, $pc), 1)"
      val prev = s"acc[greatest($j - $l + 1, 1)]"
      val cand = s"{'s': $prev.s + $lp, 'p': list_append($prev.p, $pc)}"
      s"""CASE WHEN ($j >= $l AND $lp IS NOT NULL AND $prev.s > -1e17)
             AND ($cand).s > ($b).s THEN $cand ELSE $b END"""
    }
    s"""list_reduce(
         list_prepend([{'s': 0.0, 'p': CAST([] AS VARCHAR[])}],
           list_transform(generate_series(1, length($w)),
             j -> [{'s': CAST(j AS DOUBLE), 'p': CAST([] AS VARCHAR[])}])),
         (acc, x) -> list_append(acc, $best))[length($w) + 1].p"""
  }

  /** One t37 hard-EM round as CTEs: piece-candidate join → per-word
    * map → Viterbi segmentation → freq-weighted recount → prune +
    * alphabet smoothing → re-normalized logp (exact-decimal total).
    * `vocabSize` > 0 splices in the target-vocabulary shrink step
    * (t40): keep the top max(vocabSize, ceil(n_multis·shrink))
    * multi-char pieces by (cnt desc, piece asc) — the row_number +
    * scalar-count form of `unigramLmTrain`'s prune — and normalize
    * over the SURVIVORS, so the pruning trajectory itself is what the
    * oracle replicates.
    */
  private def t37RoundCtes(r: Int, prevV: String, maxPieceLen: Int,
                           vocabSize: Int = 0,
                           shrink: Double = 0.75): String = {
    val pruneCtes = if (vocabSize <= 0) "" else s""",
        pr$r AS (
          SELECT piece, cnt, cs,
            row_number() OVER (ORDER BY cnt DESC, piece) AS rn
          FROM sm$r WHERE length(piece) > 1),
        keep$r AS (
          SELECT piece, cnt, cs FROM pr$r
          WHERE rn <= greatest($vocabSize,
            CAST(ceil((SELECT count(*) FROM pr$r) * $shrink) AS BIGINT))
          UNION ALL
          SELECT piece, cnt, cs FROM sm$r WHERE length(piece) = 1)"""
    val normSrc = if (vocabSize <= 0) s"sm$r" else s"keep$r"
    s"""cand$r AS (
          SELECT s.word, s.piece, v.logp FROM wp s JOIN $prevV v USING (piece)),
        pm$r AS (
          SELECT word,
            MAP(list(piece ORDER BY piece), list(logp ORDER BY piece)) AS m
          FROM cand$r GROUP BY word),
        seg$r AS (
          SELECT w.freq,
            unnest(${t37ViterbiSql("w.word", "p.m", maxPieceLen)}) AS piece
          FROM words w JOIN pm$r p ON w.word = p.word),
        cnt$r AS (
          SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
          FROM seg$r GROUP BY piece),
        all$r AS (
          SELECT coalesce(c.piece, a.piece) AS piece, coalesce(c.cnt, 0) AS cnt
          FROM cnt$r c FULL JOIN chars a ON c.piece = a.piece),
        sm$r AS (
          SELECT piece, cnt,
            CAST(cnt AS DECIMAL(18,1)) +
              (CASE WHEN length(piece) = 1 THEN CAST(0.5 AS DECIMAL(18,1))
                    ELSE CAST(0.0 AS DECIMAL(18,1)) END) AS cs
          FROM all$r WHERE cnt > 0 OR length(piece) = 1)$pruneCtes,
        v$r AS (
          SELECT piece, cnt,
            floor(ln(CAST(cs AS DOUBLE) /
              (SELECT CAST(CAST(sum(cs) AS VARCHAR) AS DOUBLE) FROM $normSrc)) * 1000000.0 + 0.5)
              / 1000000.0 AS logp
          FROM $normSrc)"""
  }

  /** t37's full trained-vocabulary CTE chain (word table → substring
    * seed → v0 → two hard-EM rounds → v2) — shared by the t37 oracle
    * (which reads v2 directly) and the t38 oracle (which applies v2
    * to the whole corpus), so the two can never assert different
    * trained models. `vocabSize` > 0 is the t40 variant: the SAME
    * chain with the target-vocabulary prune spliced into every round.
    */
  /** t36's trained-model scoring chain as CTEs (doc flags → hashed
    * unigram+bigram features → class models → per-doc log-odds +
    * pred) — shared by the t36 oracle (which reads `predd` directly)
    * and the t39 eval oracle (which joins `predd` back to the truth
    * flags in `d` over the held-out split), so the classifier and its
    * eval gate can never assert different trained models.
    */
  private lazy val t36ScoredCtes: String =
    s"""d AS (
            SELECT doc_id, lang = 'en' AS is_target,
              substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 4) < 'e666'
                AS is_train,
              ${toksSql(normSql)} AS toks FROM documents),
          uni AS (SELECT doc_id, is_target, is_train, unnest(toks) AS f FROM d),
          big AS (
            SELECT doc_id, is_target, is_train,
              toks[i] || ' ' || toks[i + 1] AS f
            FROM (
              SELECT doc_id, is_target, is_train, toks,
                unnest(generate_series(1, len(toks) - 1)) AS i
              FROM d WHERE len(toks) >= 2)),
          feats AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
          hb AS (
            SELECT doc_id, is_target, is_train,
              list_reduce(list_transform(range(1, 16),
                i -> CAST(strpos('0123456789abcdef',
                       substr(md5(f), i, 1)) - 1 AS BIGINT)),
                (acc, dg) -> acc * 16 + dg) % 8192 AS b
            FROM feats),
          posts AS (
            SELECT doc_id, is_target, is_train, b,
              CAST(count(*) AS DOUBLE) AS tf
            FROM hb GROUP BY doc_id, is_target, is_train, b),
          tgt AS (
            SELECT b, sum(tf) AS tcnt FROM posts
            WHERE is_train AND is_target GROUP BY b),
          rst AS (
            SELECT b, sum(tf) AS rcnt FROM posts
            WHERE is_train AND NOT is_target GROUP BY b),
          pri AS (
            SELECT count(DISTINCT CASE WHEN is_target THEN doc_id END) AS nt,
                   count(DISTINCT CASE WHEN NOT is_target THEN doc_id END) AS nr
            FROM posts WHERE is_train),
          stats AS (
            SELECT coalesce((SELECT sum(tcnt) FROM tgt), 0.0) AS t_total,
                   coalesce((SELECT sum(rcnt) FROM rst), 0.0) AS r_total,
                   (SELECT floor(ln((nt + 1.0) / (nr + 1.0)) * 1000000.0 + 0.5)
                      / 1000000.0 FROM pri) AS prior),
          scored AS (
            SELECT p.doc_id, p.tf,
              floor(ln(
                ((coalesce(t.tcnt, 0.0) + 0.5) / (s.t_total + 4096.0)) /
                ((coalesce(r.rcnt, 0.0) + 0.5) / (s.r_total + 4096.0)))
                * 1000000.0 + 0.5) / 1000000.0 AS lr
            FROM posts p LEFT JOIN tgt t USING (b) LEFT JOIN rst r USING (b)
            CROSS JOIN stats s),
          agg AS (
            SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_feats,
              floor(CAST(CAST(sum(CAST(tf AS DECIMAL(9,0)) * CAST(lr AS DECIMAL(18,6)))
                    + (SELECT CAST(prior AS DECIMAL(18,6)) FROM stats) AS VARCHAR) AS DOUBLE)
                    * 10000.0 + 0.5) / 10000.0 AS log_odds
            FROM scored GROUP BY doc_id),
          predd AS (
            SELECT doc_id, n_feats, log_odds,
              CAST(CASE WHEN log_odds > 0.0 THEN 1 ELSE 0 END AS INT) AS pred
            FROM agg)"""

  /** t41's threshold grid — ONE Scala constant feeds both the query
    * and the oracle's VALUES list, so the two can never sweep
    * different grids. Exact binary literals only (compared against
    * the 4dp log_odds in both engines).
    */
  private val T41Thresholds = Seq(-2.0, -1.0, -0.5, 0.0, 0.5, 1.0, 2.0)

  /** The t44/c4 paragraph PLANT — the corpus text carries no line
    * structure, so the declared queries construct it (the m5
    * principle): each doc's tokens chunk into 10-token paragraphs and
    * the FIRST + MIDDLE chunks are re-appended as within-doc
    * duplicates. ONE builder feeds both declared queries (and
    * [[paraPlantCtes]] is its oracle-side twin), so t44's strip and
    * c4's pipeline can never plant different corpora. Engine-exact
    * arithmetic: chunk count = floor((n+9)/10), middle = floor((k+1)/2)
    * — explicit `floor`, because a bare int cast truncates in Spark
    * but ROUNDS in DuckDB.
    */
  private def plantedParagraphDocs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), col("source"),
        text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"), col("source"),
        when(size(col("toks")) === 0, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(1L),
              floor((size(col("toks")) + lit(9)) / lit(10.0)).cast("long")),
            j => array_join(
              slice(col("toks"), ((j - 1) * 10 + 1).cast("int"), lit(10)),
              " ")))
          .as("chunks"))
      .select(col("doc_id"), col("lang"), col("source"),
        when(size(col("chunks")) === 0, lit(""))
          .otherwise(array_join(concat(col("chunks"),
            array(element_at(col("chunks"), 1),
              element_at(col("chunks"),
                floor((size(col("chunks")) + lit(1)) / lit(2.0)).cast("int")))),
            "\n"))
          .as("text"))

  /** Oracle-side twin of [[plantedParagraphDocs]] + the t44 strip:
    * `ppl` = the planted corpus, `pcl` = the per-doc cleaned text with
    * its dup accounting. Shared verbatim by the t44 and c4 oracles.
    */
  private lazy val paraPlantCtes: String =
    s"""pd0 AS (SELECT doc_id, lang, source, ${toksSql("text")} AS toks
            FROM documents),
          pch AS (
            SELECT doc_id, lang, source,
              CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
                ELSE list_transform(
                  range(1, CAST(floor((len(toks) + 9) / 10.0) AS BIGINT) + 1),
                  j -> array_to_string(
                    list_slice(toks, (j - 1) * 10 + 1, (j - 1) * 10 + 10), ' '))
              END AS chunks
            FROM pd0),
          ppl AS (
            SELECT doc_id, lang, source,
              CASE WHEN len(chunks) = 0 THEN ''
                ELSE array_to_string(list_concat(chunks,
                  [chunks[1],
                   chunks[CAST(floor((len(chunks) + 1) / 2.0) AS INTEGER)]]),
                  chr(10))
              END AS text
            FROM pch),
          pp AS (
            SELECT doc_id, lang, source,
              list_filter(list_transform(string_split(text, chr(10)),
                s -> trim(s)), s -> s <> '') AS paras
            FROM ppl),
          pk AS (
            SELECT doc_id, lang, source, paras,
              list_filter(paras,
                (s, i) -> list_position(paras, s) = i) AS kept
            FROM pp),
          pcl AS (
            SELECT doc_id, lang, source,
              CAST(len(paras) AS BIGINT) AS n_paras,
              CAST(len(paras) - len(kept) AS BIGINT) AS n_dup_paras,
              CAST(length(array_to_string(paras, ''))
                - length(array_to_string(kept, '')) AS BIGINT) AS removed_chars,
              array_to_string(kept, chr(10)) AS text
            FROM pk)"""

  private lazy val t37VocabCtes: String = t37VocabCtesWith(0, 0.75)

  /** The t38 refit-inline token-cost oracle — train the unigram
    * vocabulary on the t8 split (t37's chain), Viterbi-price every
    * doc. SHARED VERBATIM by t38 (whose engine side refits inline)
    * and t46 (whose engine side applies a persisted unigramFitModel
    * table): one SQL, two engine paths — the gate itself asserts
    * model-as-input ≡ refit.
    */
  private lazy val tokenizerCostOracleSql: String =
    s"""WITH $t37VocabCtes,
          dall AS (
            SELECT doc_id, ${toksSql(normSql)} AS toks FROM documents),
          aw AS (SELECT doc_id, unnest(toks) AS word FROM dall),
          wdist AS (SELECT DISTINCT word FROM aw),
          wsub AS (
            SELECT DISTINCT word, substr(word, i, l) AS piece
            FROM (SELECT word FROM wdist WHERE length(word) <= 16),
              LATERAL (SELECT unnest(generate_series(1, length(word))) AS i),
              LATERAL (SELECT unnest(generate_series(1,
                least(4, length(word) - i + 1))) AS l)),
          wpm AS (
            SELECT word,
              MAP(list(piece ORDER BY piece), list(logp ORDER BY piece)) AS m
            FROM (SELECT s.word, s.piece, v.logp
                  FROM wsub s JOIN v2 v USING (piece))
            GROUP BY word),
          wseg AS (
            SELECT w.word,
              CASE WHEN length(w.word) > 16 OR a.m IS NULL
                THEN CAST([] AS VARCHAR[])
                ELSE ${t37ViterbiSql("w.word", "a.m", 4)} END AS pieces
            FROM wdist w LEFT JOIN wpm a ON w.word = a.word),
          wstat AS (
            SELECT word, CAST(len(pieces) AS BIGINT) AS np,
              CASE WHEN len(pieces) = 0 THEN 1 ELSE 0 END AS unk
            FROM wseg)
          SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_words,
            CAST(sum(s.np) AS BIGINT) AS n_pieces,
            CAST(sum(s.unk) AS BIGINT) AS n_unk_words,
            CASE WHEN count(*) - sum(s.unk) > 0
              THEN floor(CAST(CAST(sum(s.np) AS VARCHAR) AS DOUBLE)
                / CAST(count(*) - sum(s.unk) AS DOUBLE) * 10000.0 + 0.5)
                / 10000.0
              ELSE NULL END AS pieces_per_word
          FROM aw a JOIN wstat s USING (word)
          GROUP BY a.doc_id ORDER BY a.doc_id"""

  private lazy val t40VocabCtes: String = t37VocabCtesWith(16, 0.75)

  private def t37VocabCtesWith(vocabSize: Int, shrink: Double): String =
    s"""d AS (
            SELECT ${toksSql(normSql)} AS toks FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 4)
              < 'e666'),
          words AS (
            SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT unnest(toks) AS w FROM d)
            WHERE length(w) BETWEEN 1 AND 16 GROUP BY w),
          subs AS (
            SELECT substr(word, i, l) AS piece, word, freq
            FROM words,
              LATERAL (SELECT unnest(generate_series(1, length(word))) AS i),
              LATERAL (SELECT unnest(generate_series(1,
                least(4, length(word) - i + 1))) AS l)),
          sc AS (
            SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
            FROM subs GROUP BY piece),
          chars AS (SELECT piece FROM sc WHERE length(piece) = 1),
          seed AS (
            SELECT piece, cnt FROM sc WHERE length(piece) = 1
            UNION ALL
            SELECT piece, cnt FROM (
              SELECT piece, cnt,
                row_number() OVER (ORDER BY cnt DESC, piece) AS rn
              FROM sc WHERE length(piece) > 1) WHERE rn <= 512),
          v0 AS (
            SELECT piece,
              floor(ln(CAST(cnt AS DOUBLE) /
                (SELECT CAST(CAST(sum(cnt) AS VARCHAR) AS DOUBLE) FROM seed)) * 1000000.0 + 0.5)
                / 1000000.0 AS logp
            FROM seed),
          wp AS (SELECT DISTINCT word, piece FROM subs),
          ${t37RoundCtes(1, "v0", 4, vocabSize, shrink)},
          ${t37RoundCtes(2, "v1", 4, vocabSize, shrink)}"""

  private def autoKInitSql(targetBlock: Int, kCap: Int = 4096): String =
    s"""SELECT cid, c FROM (
             SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
             FROM e) t
           WHERE cid < (SELECT LEAST(
             CAST(ceil(count(*) / $targetBlock.0) AS BIGINT), $kCap) FROM e)"""

  private def kmeansA2Sql(probes: Int = 1,
      initSql: String =
        """SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
           FROM e ORDER BY vec_id LIMIT 4"""): String =
    s"""WITH e AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         init AS (
           $initSql),
         a1 AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, i.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 CASE WHEN sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(i.c, i.c)) = 0 THEN 0
                      ELSE list_dot_product(e.v, i.c)
                           / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(i.c, i.c))) END DESC,
                 i.cid ASC) AS rn
             FROM e CROSS JOIN init i) WHERE rn = 1),
         comp AS (
           SELECT cid, u.d AS d,
             CAST(floor(u.x * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS xq
           FROM (SELECT cid, unnest(list_transform(range(1, len(v) + 1),
                   j -> struct_pack(d := j, x := v[j]))) AS u FROM a1)),
         cent AS (
           SELECT cid, d,
             floor(CAST(CAST(sum(xq) AS VARCHAR) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS cx
           FROM comp GROUP BY cid, d),
         cent2 AS (SELECT cid, list(cx ORDER BY d) AS c FROM cent GROUP BY cid),
         a2 AS (
           SELECT vec_id, cid, cos FROM (
             SELECT e.vec_id, i.cid,
               CASE WHEN sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(i.c, i.c)) = 0 THEN 0
                    ELSE list_dot_product(e.v, i.c)
                         / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(i.c, i.c))) END AS cos,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 CASE WHEN sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(i.c, i.c)) = 0 THEN 0
                      ELSE list_dot_product(e.v, i.c)
                           / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(i.c, i.c))) END DESC,
                 i.cid ASC) AS rn
             FROM e CROSS JOIN cent2 i) WHERE rn <= $probes)"""
}
