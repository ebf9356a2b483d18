package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink layer: parquet (primary), CSV with headers (the
  * reference's export format — reference `src/pipeline/temp.py:11-27`
  * dumps the full table to CSV with a header row), and JSON lines.
  *
  * Readers take an explicit schema where the format can't carry one
  * (CSV/JSON): schema inference requires an extra full pass over the
  * data, which is unacceptable at 100 TB and non-deterministic under
  * sampling. Parquet carries its schema in each file's footer and is
  * the only format that serves predicate pushdown + column pruning at
  * the scan, but reading that schema is not free: a schema-less
  * `spark.read.parquet` runs one Spark job per call to read footers
  * (even with `mergeSchema` off and one file). [[readParquet]] is the
  * library's one parquet reader and skips that job when nothing it
  * depends on changed.
  */
object Sources {

  /** What inference returned for one path, and what it depended on. */
  private final case class Inferred(schema: StructType, listing: String,
                                    confs: Map[String, String])

  private val MaxInferred = 256

  /** JVM-wide, keyed by the path as given; least recently used entries
    * go first once [[MaxInferred]] paths are cached.
    */
  private val inferred =
    new java.util.LinkedHashMap[String, Inferred](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Inferred]): Boolean = size > MaxInferred
    }

  /** SHA-256 of the leaf files (path, length, mtime) the DataFrame's own
    * file index listed — the files inference read — or None when the
    * plan is not a listed file scan.
    */
  private def listingOf(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
    df.queryExecution.analyzed match {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location match {
        case index: PartitioningAwareFileIndex =>
          val md = java.security.MessageDigest.getInstance("SHA-256")
          index.allFiles().map(f =>
              s"${f.getPath}\u0000${f.getLen}\u0000${f.getModificationTime}\n")
            .sorted.foreach(s => md.update(s.getBytes("UTF-8")))
          Some(java.util.HexFormat.of().formatHex(md.digest()))
        case _ => None
      }
      case _ => None
    }
  }

  /** Parquet at `path`, with the schema Spark infers — inferred at most
    * once per unchanged input. An entry holds the inferred schema, the
    * digest of the listing it was inferred from (see [[listingOf]]) and
    * the session's SQL confs (`nanosAsLong`, `binaryAsString`,
    * `int96AsTimestamp`, partition-type inference all change what
    * inference returns). A read with equal confs reads with the cached
    * schema and keeps that DataFrame only if its own listing digests
    * the same; a first read, a file added, rewritten or removed, or a
    * conf change reads as `spark.read.parquet(path)` does and replaces
    * the entry; so does a cached-schema read that fails. Same files,
    * same confs: same schema as inference, and the same errors (an
    * emptied path fails the re-inference).
    */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val confs = spark.conf.getAll
    val cached = inferred.synchronized(Option(inferred.get(path)))
    cached.filter(_.confs == confs).flatMap { e =>
      // a stale schema can fail the read itself (a new partition value
      // that does not cast to the cached partition type): a miss too
      scala.util.Try(spark.read.schema(e.schema).parquet(path)).toOption
        .filter(df => listingOf(df).contains(e.listing))
    }.getOrElse {
      val df = spark.read.parquet(path)
      listingOf(df).foreach(l => inferred.synchronized(
        inferred.put(path, Inferred(df.schema, l, confs))))
      df
    }
  }

  /** CSV with a header row. The header is used for column ORDER only;
    * types come from the caller's schema (never inferred — see above).
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** JSON lines (one object per line — splittable, so a 100 TB input
    * still parallelizes by file block).
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC — the other columnar interchange format (self-describing,
    * predicate pushdown + column pruning at the scan, like parquet).
    * Included so corpora landed by ORC-native producers (Hive/Trino
    * warehouses) ingest without a rewrite pass.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  private def writer(df: DataFrame, partitionBy: Seq[String]): DataFrameWriter[Row] = {
    val w = df.write.mode("overwrite")
    if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w
  }

  /** Parquet sink; `partitionBy` produces hive-style directory
    * partitioning so downstream scans get partition pruning.
    */
  def writeParquet(df: DataFrame, path: String,
                   partitionBy: Seq[String] = Nil): Unit =
    writer(df, partitionBy).parquet(path)

  /** CSV-with-headers sink (the reference's export shape). */
  def writeCsv(df: DataFrame, path: String,
               partitionBy: Seq[String] = Nil): Unit =
    writer(df, partitionBy).option("header", "true").csv(path)

  /** JSON-lines sink. */
  def writeJsonl(df: DataFrame, path: String,
                 partitionBy: Seq[String] = Nil): Unit =
    writer(df, partitionBy).json(path)

  /** ORC sink; `partitionBy` gives hive-style partition pruning, as
    * with [[writeParquet]].
    */
  def writeOrc(df: DataFrame, path: String,
               partitionBy: Seq[String] = Nil): Unit =
    writer(df, partitionBy).orc(path)

  /** Bucketed parquet table write — the co-located-join layout.
    *
    * Rows are hash-partitioned into `numBuckets` buckets by
    * `bucketCols`, one file per bucket (the repartition below), each
    * file sorted by the bucket columns. An equi-join or aggregation on
    * the bucket columns between two same-bucketed tables then plans
    * with NO exchange — at 100 TB that deletes the dominant cost of a
    * repeated fact⋈fact join. (A per-partition Sort remains under
    * Spark's defaults: sorted-bucket read ordering sits behind
    * spark.sql.legacy.bucketedTableScan.outputOrdering since 3.0; the
    * in-file ordering still serves min/max row-group skipping.)
    * Bucketing metadata lives in the catalog, which is why this writes
    * a TABLE (saveAsTable), not a bare path.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int, mode: String = "overwrite",
                    sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "writeBucketed: bucketCols must be non-empty")
    // `sortCols` may extend beyond the bucket key — e.g. (key, time)
    // for the as-of layout, where the scan's reported ordering lets
    // AsofJoinExec run with neither exchange NOR sort.
    val sc = if (sortCols.isEmpty) bucketCols else sortCols
    // repartition on the bucket columns first: without it every input
    // task writes its own file per bucket (file count = tasks ×
    // buckets at scale), and Spark only reports a bucket's sort order
    // when it holds exactly one file — multi-file buckets silently
    // re-Sort on read, defeating the no-sort join this layout exists
    // for
    df.repartition(numBuckets, bucketCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode(mode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(sc.head, sc.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Z-ordered parquet write — the multi-dimensional scan-pruning
    * layout. Rows are range-partitioned and sorted by the Morton
    * interleave of (`aCol`, `bCol`) ([[graft.functions.num.zValue]]),
    * so each output file covers a small RECTANGLE in (a, b) space and
    * parquet min/max statistics prune point/range scans on EITHER
    * dimension. A lexicographic sort by (a, b) prunes only on `a`:
    * every file then spans b's full range — at 100 TB the difference
    * between reading one file and reading all of them for a
    * `WHERE b = ?` scan. SourcesSpec measures exactly that: per-file
    * b-spread under z-order vs under the linear layout.
    *
    * The z column is dropped before writing (it is derivable); the
    * range partitioner samples the z distribution, so file BOUNDARIES
    * are data-dependent — the layout property (small rectangles), not
    * exact file membership, is the contract.
    */
  def writeZOrdered(df: DataFrame, aCol: String, bCol: String,
                    path: String, numFiles: Int, bits: Int = 16): Unit = {
    import org.apache.spark.sql.functions.col
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    df.withColumn("__gr_z", graft.functions.num.zValue(col(aCol), col(bCol), bits))
      .repartitionByRange(numFiles, col("__gr_z"))
      .sortWithinPartitions("__gr_z")
      .drop("__gr_z")
      .write.mode("overwrite").parquet(path)
  }

  /** SHARDED TRAINING EXPORT (t47's writer) — the pipeline's last
    * mile: write the corpus as `nShards` shard directories of
    * pre-shuffled, pre-packed rows plus a per-shard manifest, so N
    * trainer workers each stream one shard in a reproducible training
    * order. Assignment, order, and packing are
    * [[graft.ops.Curation.shardAssignments]] (the t8 hash shard rule,
    * the t13 deterministic within-shard order, the t9 token packing)
    * — a pure function of (id, text, salt, nShards, budgetTokens), so
    * a re-export of the same corpus is byte-identical regardless of
    * input partitioning, and the manifest's content_hash proves it.
    *
    * Layout: `path/shards/shard_id=N/` holds EXACTLY ONE parquet file
    * per non-empty shard (rows: id, n_tokens, pos, pack_id, plus
    * `carryCols` payload columns, sorted by pos) — one file per
    * trainer worker is the point of sharding; `path/manifest/` holds
    * the [[graft.ops.Curation.shardManifest]] rollup. The one-file
    * invariant comes from `repartition(nShards, shard_id)`: every
    * shard's rows land in one task (two shards sharing a task still
    * write separate dirs via partitionBy). Shard count bounds the
    * per-task sort exactly as the manifest's scaladoc describes.
    *
    * Returns the manifest read BACK from disk (what a consumer will
    * actually see).
    */
  def writeTrainingShards(df: DataFrame, idCol: String, textCol: String,
                          path: String, salt: String, nShards: Int,
                          budgetTokens: Long,
                          carryCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.col
    // One assignment pass serves BOTH the shard files and the
    // manifest rollup — persist it, don't re-run the tokenize + window
    // assignment over the corpus for the manifest.
    val asg = graft.ops.Curation.shardAssignments(df, idCol, textCol,
        salt, nShards, budgetTokens)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val payload =
        if (carryCols.isEmpty) asg
        else asg.join(
          df.select((col(idCol).as("id") +: carryCols.map(col)): _*), Seq("id"))
      // Sort by (shard_id, pos): partitionBy(shard_id) REQUIRES an
      // output ordering on shard_id — sorting by pos alone would make
      // FileFormatWriter inject its own shard_id sort, leaving the pos
      // order inside each file to that sort's stability over equal
      // keys (an implementation detail, not a contract). With shard_id
      // leading, the writer's requirement is already satisfied and the
      // explicit pos order is what lands in the files.
      payload
        .repartition(nShards, col("shard_id"))
        .sortWithinPartitions("shard_id", "pos")
        .write.mode("overwrite").partitionBy("shard_id")
        .parquet(s"$path/shards")
      graft.ops.Curation.manifestOfAssignments(asg)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$path/manifest")
    } finally asg.unpersist()
    readParquet(df.sparkSession, s"$path/manifest").orderBy("shard_id")
  }

  /** Header + tab-separated rows of a (small) result to a stream —
    * the reference's stdout dump of the final enriched table
    * (`src/pipeline/main.py:19-46` `_output_incidents`: a header line,
    * then one f-string TSV line per row, nulls printed as empty).
    * This is a debugging/report surface, not a sink: `maxRows` caps
    * the driver-side collect by construction; bulk export at scale is
    * [[writeCsv]] (distributed, no driver materialization).
    */
  def printTsv(df: DataFrame, maxRows: Int = 1000,
               out: java.io.PrintStream = System.out): Unit = {
    val cols = df.columns
    out.println(cols.mkString("\t"))
    df.limit(maxRows).collect().foreach { r =>
      out.println(cols.indices
        .map(i => if (r.isNullAt(i)) "" else String.valueOf(r.get(i)))
        .mkString("\t"))
    }
  }

  /** SMALL-FILES COMPACTION: rewrite a parquet dataset into
    * ~`targetRowsPerFile`-row files — the maintenance pass every
    * streaming/incremental sink needs, because a 100 TB table built
    * from per-batch appends degrades into millions of KB-sized files
    * whose open/footer cost dominates every subsequent scan (and
    * whose listing alone can stall a driver).
    *
    * Row-count based (not byte-based) so the result is deterministic
    * and testable; callers translate bytes→rows from their known row
    * width. Uses `repartition(n)` — a full shuffle, the point: it
    * rebalances skewed input files into uniform outputs (coalesce
    * would only glue adjacent small files and cannot split a big
    * one). Writes to `outPath` then returns the file count — callers
    * swap directories atomically at the catalog/metastore layer (an
    * in-place rewrite could destroy data on job failure, so this
    * operator REFUSES outPath == inPath).
    */
  def compactParquet(spark: SparkSession, inPath: String, outPath: String,
                     targetRowsPerFile: Long): Long = {
    require(targetRowsPerFile >= 1,
      s"targetRowsPerFile must be >= 1, got $targetRowsPerFile")
    // qualify through the Hadoop filesystem, not java.io.File: the
    // paths here are Hadoop URIs ("file:///x" vs "/x", hdfs vs
    // defaultFS), and a local-File comparison would let two spellings
    // of the SAME directory through the guard
    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(p: String) = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(conf).makeQualified(hp)
    }
    val qIn = qualified(inPath)
    val qOut = qualified(outPath)
    // equality is not enough: mode("overwrite") deletes outPath
    // RECURSIVELY before the lazy re-read of inPath, so an outPath
    // that is an ancestor of inPath would destroy the input too (and
    // inPath an ancestor of outPath would make the write read its own
    // output directory) — refuse any containment in either direction
    def isAncestorOrSelf(a: org.apache.hadoop.fs.Path,
                         b: org.apache.hadoop.fs.Path): Boolean = {
      var p = b
      while (p != null) { if (p == a) return true; p = p.getParent }
      false
    }
    require(!isAncestorOrSelf(qOut, qIn) && !isAncestorOrSelf(qIn, qOut),
      s"compactParquet refuses in-place/nested rewrite: $qOut and $qIn " +
        "must not be the same path or contain one another " +
        "(overwrite deletes outPath recursively before inPath is read)")
    val df = readParquet(spark, inPath)
    val rows = df.count()
    val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile)
    require(nFiles <= Int.MaxValue,
      s"file count $nFiles exceeds repartition's Int range — raise targetRowsPerFile")
    df.repartition(nFiles.toInt).write.mode("overwrite").parquet(outPath)
    nFiles
  }
}
