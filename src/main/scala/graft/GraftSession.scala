package graft

import org.apache.spark.sql.SparkSession

/** Canonical session builder for graft.
  *
  * Collects every session-level conf the library assumes, so callers
  * (and our own mains/tests) set them once at session build instead of
  * scattering `spark.conf.set` side effects through loaders:
  *
  *  - `graft.GraftExtensions`: registers the native codegen'd kernels
  *    (every operator falls back to pure built-in expressions without
  *    them, so this is an optimization, not a requirement).
  *  - `nanosAsLong`: the events table carries parquet TIMESTAMP(NANOS),
  *    which Spark 4 otherwise rejects at scan time; must be set before
  *    the first read (it is a reader conf, not a plan conf).
  *  - UTC session timezone: timestamp derivations are locale-free.
  *  - `shufflePartitions` sized by the caller to the actual
  *    parallelism (cores locally, ~2-3x total executor cores on a
  *    cluster) — Spark's static default of 200 under-partitions big
  *    shuffles and over-partitions local runs. AQE (on by default in
  *    Spark 4) coalesces from there at runtime.
  *  - `files.minPartitionNum` = shufflePartitions: asks scans of
  *    small files for at least session-parallelism splits (normally
  *    a megabytes-sized file is ONE ceil(bytes/maxPartitionBytes)
  *    task). Advisory and shuffle-free — but it cannot split below a
  *    parquet ROW GROUP, so a single-row-group file still scans as
  *    one task regardless; the `documents` and `embeddings` corpus
  *    loaders in [[graft.tables.Tables]] floor that with a
  *    conditional repartition directly above the scan, which is
  *    where the single-task artifact actually bit (s7's sf1 scoring:
  *    47 s on one core of 32).
  */
object GraftSession {

  /** `extensions = false` builds the PORTABILITY session: no
    * GraftExtensions, so every operator runs its pure-built-in
    * fallback (the `functionExists` probes all miss). Verify honors
    * `SPARK_GRAFT_NO_EXT=1` with this, proving the full oracle gate
    * extension-less end-to-end.
    */
  def builder(master: String, shufflePartitions: Int,
              extensions: Boolean = true): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.files.minPartitionNum", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    if (extensions) b.config("spark.sql.extensions", "graft.GraftExtensions") else b
  }

  /** The reader conf the events table needs; `Tables.events` checks it
    * rather than mutating session state as a load side effect.
    */
  val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** Session-level storage sweep for library callers — the ONE release
    * point for operator intermediates. An operator whose intermediate
    * feeds more than one consumer inside its returned plan always
    * persists it (MEMORY_AND_DISK), so those consumers share one
    * computation. The blocks stay referenced by the returned
    * DataFrame's lineage, so the OP cannot safely unpersist them — a
    * long-lived session calling these repeatedly should sweep between
    * logical jobs once results are materialized. `clearCache()` alone
    * is NOT enough: it releases cached Datasets but not
    * `localCheckpoint()` RDD blocks (the g4 / s12 lineage checkpoints),
    * which otherwise pin storage memory until GC finalizes them — the
    * measured r06 bench bleed.
    */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    System.gc()
  }
}
