package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Sources
import graft.tables.Tables

class SourcesSpec extends AnyFunSuite {
  import SparkHarness._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("csv round-trip preserves rows and schema-declared types") {
    val orig = Tables(spark, sfDir).nation
    val dir = tmp("graft-csv")
    Sources.writeCsv(orig, dir)
    val back = Sources.readCsv(spark, dir, orig.schema)
    assert(back.schema == orig.schema)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      orig.orderBy("n_nationkey").collect().toSeq)
  }

  test("jsonl round-trip preserves rows") {
    val orig = Tables(spark, sfDir).region
    val dir = tmp("graft-jsonl")
    Sources.writeJsonl(orig, dir)
    val back = Sources.readJsonl(spark, dir, orig.schema)
    assert(back.orderBy("r_regionkey").collect().toSeq ==
      orig.orderBy("r_regionkey").collect().toSeq)
  }

  test("orc round-trip preserves rows and pushes filters to the scan") {
    val orig = Tables(spark, sfDir).nation
    val dir = tmp("graft-orc")
    Sources.writeOrc(orig, dir)
    val back = Sources.readOrc(spark, dir)
    assert(back.schema == orig.schema)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      orig.orderBy("n_nationkey").collect().toSeq)
    // the columnar contract: predicate reaches the ORC scan
    val filtered = back.filter(col("n_nationkey") === 3L)
    val physical = filtered.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") &&
      physical.contains("n_nationkey"),
      s"expected pushed filter in ORC scan:\n$physical")
  }

  test("partitioned parquet write prunes partitions at the scan") {
    val orig = Tables(spark, sfDir).customer
    val dir = tmp("graft-part")
    Sources.writeParquet(orig, dir, partitionBy = Seq("c_mktsegment"))
    val one = Sources.readParquet(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
    val expected = orig.filter(col("c_mktsegment") === "BUILDING").count()
    assert(one.count() == expected)
    // partition pruning: the physical scan must carry a partition filter
    val physical = one.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters") &&
      physical.contains("c_mktsegment"),
      s"expected partition pruning in plan:\n$physical")
  }

  test("printTsv emits header + tab-separated rows with empty nulls, capped") {
    import graft.SparkHarness.spark.implicits._
    val df = Seq((1L, Some("a b"), 1.5), (2L, None, 2.0), (3L, Some("c"), 3.0))
      .toDF("id", "txt", "v")
    val buf = new java.io.ByteArrayOutputStream()
    Sources.printTsv(df.orderBy("id"), maxRows = 2, new java.io.PrintStream(buf, true, "UTF-8"))
    val lines = buf.toString("UTF-8").split("\n").toSeq
    assert(lines == Seq("id\ttxt\tv", "1\ta b\t1.5", "2\t\t2.0"))
  }

  test("bucketed tables join and aggregate with no exchange") {
    import graft.sources.Sources
    val e = Tables(spark, sfDir).events
      .select(col("event_id"), col("user_id"), col("value"))
    Sources.writeBucketed(e, "ev_a", Seq("user_id"), 4)
    Sources.writeBucketed(e.select(col("user_id"), col("event_id").as("eid2")),
      "ev_b", Seq("user_id"), 4)
    // tiny tables broadcast by default (which IS an exchange) — force
    // the shuffle-join path the bucketing exists to serve
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Sources.readTable(spark, "ev_a")
        .join(Sources.readTable(spark, "ev_b"), "user_id")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed equi-join must not shuffle either side:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"the scan must actually use the bucketing:\n$plan")
      assert(joined.count() > 0)
      // aggregation on the bucket key also skips the exchange
      val agg = Sources.readTable(spark, "ev_a").groupBy("user_id").count()
      agg.collect()
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
        "bucketed aggregation must not shuffle")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS ev_a")
      spark.sql("DROP TABLE IF EXISTS ev_b")
    }
  }

  test("z-ordered layout prunes point scans on the SECOND dimension; linear sort cannot") {
    import spark.implicits._
    // 64x64 grid; 16 files ≈ one 16x16 z-tile each (sampled boundaries
    // may merge adjacent tiles, so assertions carry a straddle margin)
    val grid = (for (a <- 0 until 64; b <- 0 until 64)
      yield (a.toLong, b.toLong)).toDF("a", "b")
    val zDir = tmp("graft-zord")
    val linDir = tmp("graft-lin")
    Sources.writeZOrdered(grid, "a", "b", zDir, numFiles = 16, bits = 6)
    grid.repartitionByRange(16, col("a"), col("b"))
      .sortWithinPartitions("a", "b")
      .write.mode("overwrite").parquet(linDir)

    // files whose [min_b, max_b] must be READ for a b = 17 point scan
    def filesHit(dir: String): (Long, Long) = {
      val stats = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min("b").as("lo"), max("b").as("hi"))
      (stats.count(),
        stats.filter(col("lo") <= 17 && col("hi") >= 17).count())
    }
    val (zFiles, zHit) = filesHit(zDir)
    val (lFiles, lHit) = filesHit(linDir)
    assert(zFiles == 16 && lFiles == 16)
    // linear (a, b) sort: every file spans b's full range — no pruning
    assert(lHit == lFiles)
    // z-order: only the tile row b∈[16,32) (4 of 16 tiles) + straddlers
    assert(zHit <= 10, s"z-order hit $zHit of $zFiles files")
  }

  test("compactParquet rebalances a many-small-files dataset; refuses in-place") {
    import graft.sources.Sources
    val base = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"
    // 40 tiny files of 25 rows each — the streaming-append degradation
    spark.range(1000).toDF("id").repartition(40)
      .write.parquet(inDir)
    def parquetFiles(d: String) = new java.io.File(d).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles(inDir) == 40)
    val n = Sources.compactParquet(spark, inDir, outDir, targetRowsPerFile = 250)
    assert(n == 4 && parquetFiles(outDir) == 4)
    // content survives exactly
    assert(spark.read.parquet(outDir).agg(sum("id")).head.getLong(0)
      == 999L * 1000 / 2)
    val e = intercept[IllegalArgumentException] {
      Sources.compactParquet(spark, inDir, s"$base/./in", 100)
    }
    assert(e.getMessage.contains("in-place"))
    // ancestor containment in EITHER direction is the same footgun:
    // overwrite deletes outPath recursively before inPath is read, so
    // outPath=$base would wipe $base/in — and input data with it
    val eUp = intercept[IllegalArgumentException] {
      Sources.compactParquet(spark, inDir, base, 100)
    }
    assert(eUp.getMessage.contains("contain"))
    val eDown = intercept[IllegalArgumentException] {
      Sources.compactParquet(spark, inDir, s"$inDir/nested_out", 100)
    }
    assert(eDown.getMessage.contains("contain"))
    // the input survived every refusal
    assert(spark.read.parquet(inDir).count() == 1000)
  }

  test("writeTrainingShards: one file per shard, pos-ordered rows, content deterministic under repartitioning, manifest matches") {
    import graft.ops.Curation
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    def export(df: org.apache.spark.sql.DataFrame, dir: String) =
      Sources.writeTrainingShards(df, "doc_id", "text", dir,
        salt = "graft", nShards = 4, budgetTokens = 512L,
        carryCols = Seq("text"))
    val d1 = tmp("graft-shards1"); val d2 = tmp("graft-shards2")
    val m1 = export(docs, d1).collect().toSeq
    // a differently-partitioned input must produce byte-equal shards
    // (the export is a pure function of the corpus, not its layout)
    val m2 = export(docs.repartition(7), d2).collect().toSeq
    assert(m1 == m2, "manifest differs under input repartitioning")
    // one parquet file per shard directory
    for (dir <- Seq(d1, d2); sh <- 0 until 4) {
      val files = new java.io.File(s"$dir/shards/shard_id=$sh")
        .listFiles((_, n) => n.endsWith(".parquet"))
      assert(files != null && files.length == 1,
        s"shard $sh of $dir: expected exactly one file")
    }
    // shard contents identical across the two exports, and ordered by
    // pos within each shard file
    for (sh <- 0 until 4) {
      def rows(dir: String) = spark.read
        .parquet(s"$dir/shards/shard_id=$sh")
        .select("pos", "id", "n_tokens", "pack_id", "text")
        .collect().toSeq
      val (r1, r2) = (rows(d1), rows(d2))
      assert(r1 == r2, s"shard $sh contents differ across exports")
      assert(r1.map(_.getLong(0)) == (1L to r1.size).toSeq,
        s"shard $sh rows are not pos-ordered in file order")
    }
    // the on-disk manifest equals the operator's own rollup
    val direct = Curation.shardManifest(docs, "doc_id", "text",
        salt = "graft", nShards = 4, budgetTokens = 512L)
      .collect().toSeq
    assert(m1 == direct, "written manifest diverges from shardManifest")
    // every doc landed in exactly one shard
    assert(m1.map(_.getLong(1)).sum == docs.count())
  }

  /** One parquet file written with the raw parquet writer, so its footer
    * carries no Spark schema and inference reads the parquet types
    * (nanosecond timestamps, unannotated binary) as the confs say.
    */
  private def writeRaw(file: String, schema: String,
                       rows: Seq[Seq[(String, Any)]]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    val mt = org.apache.parquet.schema.MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(mt).withConf(spark.sparkContext.hadoopConfiguration).build()
    val g = new SimpleGroupFactory(mt)
    try rows.foreach { r =>
      val row = g.newGroup()
      r.foreach {
        case (k, v: Long) => row.append(k, v)
        case (k, v: String) => row.append(k, v)
        case (k, v: Array[Byte]) => row.append(k, Binary.fromConstantByteArray(v))
        case (k, v) => sys.error(s"unsupported value for $k: $v")
      }
      w.write(row)
    } finally w.close()
  }

  private def nanosEvents(dir: String): String = {
    val file = s"$dir/events.parquet"
    writeRaw(file,
      """message events { required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |  required binary event_type (STRING); }""".stripMargin,
      (0L until 20L).map(i => Seq("event_id" -> i,
        "ts" -> (1700000000000000000L + i * 1234567891L),
        "event_type" -> s"t${i % 3}")))
    file
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).toSeq.sortBy(_.toString)

  /** readParquet equals inference on `path`: schema and rows. */
  private def assertInferred(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    val fresh = spark.read.parquet(path)
    assert(df.schema == fresh.schema, s"$path: ${df.schema} != ${fresh.schema}")
    assert(rowsOf(df) == rowsOf(fresh), s"$path: rows differ")
  }

  test("readParquet: a second read of an unchanged path launches no Spark job") {
    val dir = tmp("graft-schema-hit")
    Sources.writeParquet(Tables(spark, sfDir).nation.coalesce(1), dir)
    val (_, first) = QueryRunner.jobsDuring(spark)(Sources.readParquet(spark, dir))
    val (_, second) = QueryRunner.jobsDuring(spark)(Sources.readParquet(spark, dir))
    assert(first >= 1, "the first read infers the schema with a job")
    assert(second == 0, s"the second read launched $second jobs")
  }

  test("readParquet: cached reads equal inference on a file, a multi-file " +
      "dir, a hive-partitioned store and nanos events") {
    val orders = Tables(spark, sfDir).orders
    val multi = tmp("graft-schema-multi")
    Sources.writeParquet(orders.repartition(8), multi)
    assert(new java.io.File(multi).listFiles().count(_.getName.endsWith(".parquet")) == 8)
    val store = tmp("graft-schema-store")
    for (b <- 0 until 3)
      Sources.writeParquet(orders.filter(col("o_orderkey") % 3 === b),
        f"$store/batch=$b%04d")
    val nanos = nanosEvents(tmp("graft-schema-nanos"))
    for (path <- Seq(s"$sfDir/lineitem.parquet", multi, store, nanos)) {
      Sources.readParquet(spark, path)
      val (df, jobs) = QueryRunner.jobsDuring(spark)(Sources.readParquet(spark, path))
      assert(jobs == 0, s"$path: cached read launched $jobs jobs")
      assertInferred(df, path)
    }
    assert(Sources.readParquet(spark, nanos).schema("ts").dataType ==
      org.apache.spark.sql.types.LongType, "nanosAsLong reads ts as a long")
    assert(Sources.readParquet(spark, store).schema("batch").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("readParquet: a new partition, a rewritten file, an emptied path and " +
      "a conf change each re-infer") {
    import org.apache.spark.sql.AnalysisException
    import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType}
    val nation = Tables(spark, sfDir).nation
    // a partition whose value is not an integer turns batch into a string
    val store = tmp("graft-schema-grow")
    Sources.writeParquet(nation, s"$store/batch=0000")
    assert(Sources.readParquet(spark, store).schema("batch").dataType == IntegerType)
    Sources.writeParquet(nation, s"$store/batch=late")
    val grown = Sources.readParquet(spark, store)
    assert(grown.schema("batch").dataType == StringType)
    assertInferred(grown, store)
    // a rewrite with an extra column
    val table = tmp("graft-schema-rewrite")
    Sources.writeParquet(nation, table)
    Sources.readParquet(spark, table)
    Sources.writeParquet(nation.withColumn("extra", lit(1L)), table)
    val rewritten = Sources.readParquet(spark, table)
    assert(rewritten.columns.contains("extra"))
    assertInferred(rewritten, table)
    // every file deleted: the read fails as inference does
    Sources.readParquet(spark, table)
    new java.io.File(table).listFiles().foreach(_.delete())
    val want = intercept[AnalysisException](spark.read.parquet(table))
    val got = intercept[AnalysisException](Sources.readParquet(spark, table))
    assert(got.getCondition == want.getCondition && got.getMessage == want.getMessage)
    // binaryAsString changes what inference returns for unannotated binary
    val blobs = s"${tmp("graft-schema-binary")}/blobs.parquet"
    writeRaw(blobs, "message blobs { required int64 id; required binary payload; }",
      Seq(Seq("id" -> 1L, "payload" -> "ab".getBytes("UTF-8"))))
    assert(Sources.readParquet(spark, blobs).schema("payload").dataType == BinaryType)
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try {
      val flipped = Sources.readParquet(spark, blobs)
      assert(flipped.schema("payload").dataType == StringType)
      assertInferred(flipped, blobs)
    } finally spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert(Sources.readParquet(spark, blobs).schema("payload").dataType == BinaryType)
  }
}
