package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** Schema'd loaders for the test star schema + events/documents/embeddings.
  *
  * The reference's "source of truth" is a PostgreSQL `incidents` table
  * (reference `src/db/schema.py`); here the source of truth is columnar
  * parquet so scans get predicate pushdown + column pruning for free.
  * Every table loads through [[graft.sources.Sources.readParquet]], so
  * a table whose files have not changed since its last load reuses the
  * schema inferred then instead of running a footer-reading job again.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def load(name: String): DataFrame =
    Sources.readParquet(spark, s"$dir/$name.parquet")

  def region: DataFrame     = load("region")
  def nation: DataFrame     = load("nation")
  def customer: DataFrame   = load("customer")
  def part: DataFrame       = load("part")
  def orders: DataFrame     = load("orders")
  def lineitem: DataFrame   = load("lineitem")
  /** events.ts has shipped as both parquet TIMESTAMP(NANOS) — which
    * Spark 4 rejects unless read as a nanos long via the nanosAsLong
    * conf set at session build (see [[graft.GraftSession]]) — and
    * plain TIMESTAMP(MICROS). Branch on the LOADED dtype so both
    * generations surface the same microsecond TimestampType column
    * (ns floors to µs, matching DuckDB's ns→µs cast; NTZ micros are
    * UTC wall-clock under the session's pinned UTC zone).
    */
  def events: DataFrame = {
    val raw = load("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, not `/`: ns epochs (~1.7e18) overflow double mantissa
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents: DataFrame  = floored(load("documents"))
  def embeddings: DataFrame = floored(load("embeddings"))

  /** The parallelism floor for the two corpora the map-heavy operators
    * (dedup, text, curation, ANN, clustering) read. A small parquet
    * file is one row group, and a row group is one scan split whatever
    * `files.minPartitionNum` asks for (see [[graft.GraftSession]]), so
    * every pre-shuffle stage over such a file would run as one task
    * (s7's sf1 scoring: 47 s on one core of 32). When the scan plans
    * fewer partitions than the session's default parallelism, the
    * loader repartitions it round-robin to that count, directly above
    * the scan. An input large enough to matter already scans as that
    * many splits and passes through untouched.
    *
    * The exchange sits below every expression a caller adds, so a
    * caller's `rand()` or `monotonically_increasing_id()` sees the same
    * partitions on every action. The star-schema tables and `events`
    * keep their plans; streams and DataFrames callers build themselves
    * get no floor — operators take their inputs as given.
    */
  private def floored(scan: DataFrame): DataFrame = {
    val want = spark.sparkContext.defaultParallelism
    if (scan.queryExecution.toRdd.getNumPartitions < want) scan.repartition(want)
    else scan
  }
}
