package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Enrich
import graft.sources.Sources
import graft.tables.Tables

/** End-to-end replica of the reference pipeline's flow
  * (reference `src/pipeline/main.py`): ingest → idempotent keyed
  * insert → time derivations + flag → frequency ranks → group flag
  * propagation → geo enrichment → health metrics → CSV export.
  * One run of this spec is the "switch from the reference" story:
  * every stage is a graft operator.
  */
class PipelineSpec extends AnyFunSuite {
  import SparkHarness._

  test("full reference-shaped pipeline runs end-to-end and exports CSV") {
    val raw = Tables(spark, sfDir).events

    // 1. idempotent keyed insert (ON CONFLICT DO NOTHING)
    val deduped = Enrich.dedupKeepFirst(
      raw.withColumn("ts_ms", unix_millis(col("ts"))),
      keys = Seq("event_id"), orderBy = Seq("ts_ms"))
    assert(deduped.count() == raw.select("event_id").distinct().count())

    // 2. time derivations + marker flag
    val derived = Enrich.deriveTime(deduped, col("ts"), col("event_type"), "error")

    // 3. frequency rank joined back per row (location_rank analog)
    val ranked = Enrich.withFrequencyRank(derived, "event_type", "type_rank")

    // 4. group flag propagation (EMSSTAT analog)
    val flagged = Enrich.propagateFlag(
      ranked.withColumn("mb", date_trunc("minute", col("ts"))),
      Seq("mb", "user_id"), "flag")

    // 5. geo enrichment (side_of_town) on synthesized coordinates
    val located = Enrich.withSideOfTown(
      flagged
        .withColumn("lat", lit(35.22) + (col("user_id") % 10).cast("double") * 0.01)
        .withColumn("lon", lit(-97.44) + (col("user_id") % 7).cast("double") * 0.01),
      col("lat"), col("lon"))

    // 6. enrichment health
    val health = Enrich.nullHealth(located, Seq("side_of_town", "type_rank"))
      .collect().head
    assert(health.getAs[Long]("null_side_of_town") == 0L)
    assert(health.getAs[Long]("null_type_rank") == 0L)

    // 7. export with headers (the reference's CSV dump) and re-read
    val out = java.nio.file.Files.createTempDirectory("graft-pipeline").toString
    val exported = located.select("event_id", "day_of_week", "time_of_day",
      "flag", "flag_propagated", "type_rank", "side_of_town")
    Sources.writeCsv(exported, out)
    val back = Sources.readCsv(spark, out, exported.schema)
    assert(back.count() == exported.count())
    assert(back.columns.toSeq == exported.columns.toSeq)
  }

  test("LLM curation pipeline composes: dedup -> quality -> split -> decontaminate -> pack") {
    import graft.ops.{Curation, Dedup, TextAnalysis}
    val docs = Tables(spark, "/root/testdata/sf0.01").documents
    val n0 = docs.count()
    // 1. exact dedup: keep one canonical doc per content fingerprint
    val canon = Dedup.exactGroups(docs, "text", "doc_id")
      .select(col("canonical_id").as("doc_id"))
    val deduped = docs.join(canon, "doc_id")
    // 2. quality gate
    val keep = TextAnalysis.qualityScores(deduped, "text", "doc_id")
      .filter(col("quality") >= 0.3).select("doc_id")
    val kept = deduped.join(keep, "doc_id")
    // 3. deterministic split
    val split = Curation.deterministicSplit(kept, "doc_id", "pipe",
      Seq(("train", 0.95), ("eval", 0.05)))
    // 4. decontaminate: drop train docs that collide with eval docs
    val contaminated = Curation.contaminationPairs(split, "text", "doc_id", "split", "eval")
      .select(col("train_id").as("doc_id")).distinct()
    val clean = split.join(contaminated, Seq("doc_id"), "left_anti")
    // 5. pack the surviving train docs into 2048-token sequences
    val train = clean.filter(col("split") === "train")
    val packed = Curation.packSequences(train, "doc_id", "text", "source", 2048L)
    // structural invariants of the composition
    assert(deduped.count() <= n0 && kept.count() <= deduped.count())
    assert(split.count() == kept.count(), "split is total over its input")
    assert(clean.count() == split.count() - contaminated.count(),
      "decontamination removes exactly the flagged train docs")
    assert(packed.count() == train.count(), "packing is a metadata pass, 1 row per doc")
    assert(packed.filter(col("pack_offset") >= 2048 || col("pack_offset") < 0).count() == 0)
    assert(packed.count() > 0, "pipeline must not degenerate to empty")
  }

  test("near-dup dedup chain composes: pairs (d2) -> clusters (d7) -> kept corpus, one job graph") {
    import graft.ops.{Dedup, Graph}
    // the end-to-end "dedup a corpus" story, verified piecewise by the
    // d2/d7 oracles, here run COMPOSED: minhash pairs feed connected
    // components feed the keep/drop anti-join, corpus in → deduped
    // corpus out, all as one lazy plan until the final actions
    val docs = Tables(spark, "/root/testdata/sf0.01").documents
    val n0 = docs.count()
    val pairs = Dedup.minhashPairs(docs, "text", "doc_id")
    val clusters = Graph.clusterDedup(pairs, "id1", "id2")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kept = Graph.dropNearDups(docs, "doc_id", pairs, "id1", "id2")

    // every cluster loses all but its canonical member
    val clustered = clusters.count()
    val dropped = clusters.filter(col("keep") === 0).count()
    val canonical = clustered - dropped
    assert(clustered > 0 && dropped > 0, "corpus must contain near-dup clusters")
    assert(kept.count() == n0 - dropped,
      "kept corpus = corpus minus non-canonical cluster members")
    // the survivors of each cluster are exactly its min-id members
    val keptIds = kept.select(col("doc_id").as("id"))
    assert(clusters.filter(col("keep") === 1).join(keptIds, "id").count() == canonical,
      "every canonical member survives")
    assert(clusters.filter(col("keep") === 0).join(keptIds, "id").count() == 0,
      "no dropped member survives")
    // idempotence: re-running the chain on the deduped corpus drops nothing
    val pairs2 = Dedup.minhashPairs(kept, "text", "doc_id")
    assert(Graph.clusterDedup(pairs2, "id1", "id2")
      .filter(col("keep") === 0).count() == 0,
      "dedup chain must be idempotent: second pass finds no drops")
    clusters.unpersist()
  }

  test("curationPipeline: dedup collapses, low quality drops, PII counted, splits total") {
    import spark.implicits._
    import graft.ops.Curation
    val good = "the quick brown fox and the lazy dog of the east " +
      "jumped over a fence to visit the market in town today"
    val docs = Seq(
      (1L, good, "en"),                        // canonical keeper
      (2L, good.toUpperCase, "en"),            // exact dup after normalize → dropped
      (3L, good + " mail me at a.b@x.io", "en"), // PII, passes filter
      (4L, "short junk", "en"),                // fails r_len → dropped
      (5L, good + " extra tail words here", "fr")).toDF("doc_id", "text", "lang")
    val out = Curation.curationPipeline(docs, "text", "doc_id", "lang")
      .orderBy("doc_id").collect()
    // 2 deduped away, 4 filtered: survivors are 1, 3, 5
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L, 5L))
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(3L).getLong(3) == 1L && byId(3L).getLong(4) == 0L,
      "doc 3 has one email redaction")
    assert(byId(1L).getLong(3) == 0L)
    assert(byId(5L).getString(1) == "fr")
    // every survivor gets one of the three splits
    assert(out.map(_.getString(2)).forall(Set("train", "val", "test")))
  }
}
