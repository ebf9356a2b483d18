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
  *  - `codegen.cache.maxEntries` = [[GraftSession.CodegenCacheEntries]]:
  *    Spark's generated-class cache holds a pipeline's whole working
  *    set, so a session that runs the pipeline again reuses its
  *    compiled classes instead of compiling them on every pass.
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
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    if (extensions) b.config("spark.sql.extensions", "graft.GraftExtensions") else b
  }

  /** Entries of Spark's generated-class cache, sized to the working
    * set of a pipeline that one session runs again and again.
    *
    * Why 1024: one pass of the benchmark's `curation` workload (d2, g4,
    * t2, t7, s13, c1) generates 148 distinct classes and one `etl`
    * pass 79, while Spark's default holds 100. The cache is an LRU,
    * and a cyclic working set larger than an LRU misses on every
    * access, so at 100 each warm pass compiled 128–135 (`curation`)
    * and 41 (`etl`) classes again through Janino; at 1024 (about 7×
    * curation's working set) a warm pass compiles none.
    *
    * Cost: an entry keeps a class's source and its loaded bytecode.
    * Measured means over those passes (`CodegenMetrics`) are 7.9 KB
    * of source (`METRIC_SOURCE_CODE_SIZE`) and 2.6 KB of bytecode per
    * class (`METRIC_GENERATED_CLASS_BYTECODE_SIZE`), so a full cache
    * holds at most 1024 × 10.5 KB ≈ 10.5 MiB (≈ 13 MiB counting the
    * 2.1 classes an entry averages); a pipeline smaller than the
    * cache only ever holds its own working set.
    *
    * The conf is STATIC: Spark sizes the cache, once per JVM, when the
    * first class is generated, so it takes effect only when set at
    * session build (a live session's `spark.conf.set` rejects it).
    * A caller can still override it with
    * `.config("spark.sql.codegen.cache.maxEntries", n)` after this
    * builder, before `getOrCreate()`.
    */
  val CodegenCacheEntries = 1024

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
