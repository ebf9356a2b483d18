package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: media (image/audio/video) as opaque
  * `binary` columns with typed metadata, the way the reference holds
  * PDF bytes in memory before extraction
  * (reference `src/pdf/fetch_incidents.py`, `parse_incidents.py`).
  *
  * The decode step is a clearly-marked deterministic STUB (the real
  * codecs are not in this container); the Spark-side plumbing —
  * binary schema, per-partition batching, output schema — is real.
  */
object Multimodal {

  /** Typed metadata for a binary payload, pure column math (codegen):
    * byte length, content hash, chunk count at a fixed chunk size.
    */
  def binaryMeta(df: DataFrame, payloadCol: String, idCol: String,
                 chunkSize: Int = 256): DataFrame =
    df.select(col(idCol).as("doc_id"),
      octet_length(col(payloadCol)).cast("long").as("n_bytes"),
      sha2(col(payloadCol), 256).as("sha256"),
      ceil(octet_length(col(payloadCol)).cast("double") / chunkSize)
        .cast("long").as("n_chunks"))

  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("mean_byte", DoubleType, nullable = false),
    StructField("frame_checksums", ArrayType(LongType), nullable = false)))

  /** STUB media decoder: stands in for an image/audio codec. It
    * deterministically "decodes" the payload into fixed-size frames
    * and extracts per-frame checksums + a global intensity feature.
    * Swap `decodeFrame` for a real codec; everything around it (the
    * mapPartitions batching, schema, partition-parallel shape) is the
    * production plumbing.
    */
  private def decodeFrame(bytes: Array[Byte], off: Int, len: Int): Long = {
    var i = off
    var acc = 1469598103934665603L // FNV offset basis
    while (i < off + len && i < bytes.length) {
      acc = (acc ^ (bytes(i) & 0xffL)) * 1099511628211L
      i += 1
    }
    acc
  }

  val frameSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("frame_idx", LongType, nullable = false),
    StructField("frame", BinaryType, nullable = false)))

  /** Frame sampling: emit every `stride`-th fixed-size frame of each
    * payload as its own row — the shape a video/audio pipeline needs
    * before per-frame feature extraction. Pure partition-local explode
    * (no shuffle); downstream ops parallelize over frames, not files.
    */
  def frameSample(df: DataFrame, payloadCol: String, idCol: String,
                  frameSize: Int = 1024, stride: Int = 2): DataFrame = {
    val input = df.select(col(idCol).cast("long").as("doc_id"), col(payloadCol).as("payload"))
    val enc = org.apache.spark.sql.Encoders.row(frameSchema)
    input.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        val nFrames = math.max(1L, (bytes.length + frameSize - 1L) / frameSize)
        (0L until nFrames by stride).iterator.map { f =>
          val from = (f * frameSize).toInt
          val until = math.min(bytes.length, from + frameSize)
          Row(id, f, java.util.Arrays.copyOfRange(bytes, from, math.max(from, until)))
        }
      }
    }(enc)
  }

  /** STUB resize: stands in for an image resize/resample codec. The
    * deterministic fake keeps every `factor`-th byte; a real codec
    * drops in without touching the Spark-side shape (binary → binary,
    * partition-local, no shuffle).
    */
  def resizeStub(df: DataFrame, payloadCol: String, outCol: String,
                 factor: Int = 4): DataFrame = {
    val resize = udf { bytes: Array[Byte] =>
      if (bytes == null) null
      else {
        val out = new Array[Byte]((bytes.length + factor - 1) / factor)
        var i = 0
        while (i < out.length) { out(i) = bytes(i * factor); i += 1 }
        out
      }
    }
    df.withColumn(outCol, resize(col(payloadCol)))
  }

  /** Payload → typed records. The contract a PDF-table / media-stream
    * extractor plugs into (reference `src/pdf/parse_incidents.py:24-64`
    * turns report bytes into incident rows the same way): one payload
    * in, zero-or-more structured records out. Implementations must be
    * deterministic per payload (extraction re-runs under task retry).
    */
  trait PayloadParser extends Serializable {
    /** Schema of ONE emitted record (the extractor prepends doc_id). */
    def recordSchema: StructType
    def parse(bytes: Array[Byte]): Iterator[Row]
  }

  /** Deterministic test parser standing in for a real PDF/codec
    * parser: decodes UTF-8 and emits one record per whitespace-
    * delimited token — (rec_idx, rec_text, rec_len). Exactly mirrors
    * the oracle's regexp_split semantics (trim first; empty → none).
    */
  object WhitespaceRecordParser extends PayloadParser {
    val recordSchema: StructType = StructType(Seq(
      StructField("rec_idx", LongType, nullable = false),
      StructField("rec_text", StringType, nullable = false),
      StructField("rec_len", LongType, nullable = false)))
    def parse(bytes: Array[Byte]): Iterator[Row] = {
      val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8).trim
      if (s.isEmpty) Iterator.empty
      else s.split("\\s+").iterator.zipWithIndex.map { case (tok, i) =>
        Row(i.toLong, tok, tok.length.toLong)
      }
    }
  }

  /** Structured extraction: binary payloads → typed multi-row records
    * via a pluggable [[PayloadParser]] (the `frameSample` shape
    * generalized from fixed-size frames to parser-defined records).
    * Partition-local flatMap — no shuffle; at 100 TB the parallelism
    * is the input's partitioning and each payload is parsed exactly
    * once.
    */
  def extractRecords(df: DataFrame, payloadCol: String, idCol: String,
                     parser: PayloadParser): DataFrame = {
    val outSchema = StructType(
      StructField("doc_id", LongType, nullable = false) +: parser.recordSchema.fields)
    val input = df.select(col(idCol).cast("long").as("doc_id"), col(payloadCol).as("payload"))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    input.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        // a NULL payload extracts zero records — parsers only ever see
        // real bytes, so none of them has to re-implement this guard
        if (payload == null) Iterator.empty
        else parser.parse(payload).map(rec => Row.fromSeq(id +: rec.toSeq))
      }
    }(enc)
  }

  /** Batched per-partition feature extraction over binary payloads.
    * One task per input partition; no shuffle; the imperative loop is
    * deliberate (this is the "(d) mapPartitions last resort" case —
    * codec calls can't be expressed as Catalyst expressions).
    */
  def extractFeatures(df: DataFrame, payloadCol: String, idCol: String,
                      frameSize: Int = 1024): DataFrame = {
    val input = df.select(col(idCol).cast("long").as("doc_id"), col(payloadCol).as("payload"))
    val enc = org.apache.spark.sql.Encoders.row(featureSchema)
    input.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        val nFrames = math.max(1L, (bytes.length + frameSize - 1L) / frameSize)
        val checksums = (0L until nFrames).map(f =>
          decodeFrame(bytes, (f * frameSize).toInt, frameSize))
        var sum = 0.0
        var i = 0
        while (i < bytes.length) { sum += (bytes(i) & 0xff); i += 1 }
        val mean = if (bytes.length == 0) 0.0 else sum / bytes.length
        // floor-based round (not rint): identical double math to the
        // oracle's floor(x*1e4 + 0.5)/1e4 — byte means land exactly on
        // .xxxx5 boundaries where HALF_EVEN and HALF_UP diverge
        Row(id, bytes.length.toLong, nFrames,
          math.floor(mean * 10000 + 0.5) / 10000, checksums)
      }
    }(enc)
  }

  /** BYTE-EXACT payload dedup — the multimodal analog of d1: identical
    * binary payloads (the same image re-crawled under ten URLs, the
    * same PDF mirrored across sites) collapse on their md5, keeping
    * the LOWEST-id occurrence as canonical. Exact-bytes is the first
    * dedup rung of every image/audio pipeline (perceptual/embedding
    * near-dup — d5/d8's job — only runs on what survives it).
    *
    * Scale shape: the fingerprint is map-side (one md5 per payload;
    * only the 32-hex digest + id travel — payloads NEVER shuffle);
    * canonical = one partial-agg `min(id)` shuffle keyed by digest;
    * the verdict join is on the same key, so Catalyst reuses the
    * exchange. Output: (id, fp, canonical_id, is_dup 0/1).
    */
  val chunkSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("h", LongType, nullable = false)))

  /** Content-defined chunking over raw payload BYTES (the LBFS method,
    * Muthitacharoen et al., SOSP 2001): a chunk boundary falls after
    * byte p whenever the rolling hash of the last `window` bytes is
    * ≡ 0 (mod `divisor`) — boundaries are decided by CONTENT, not
    * position, so a payload edited anywhere (bytes inserted, excised,
    * a header prepended by a re-encoder) keeps every chunk outside the
    * edit's ±window neighborhood byte-identical. Fixed-frame schemes
    * ([[frameSample]]'s stride, m4's whole-payload md5) lose all
    * alignment after the first shifted byte — the same blindness d10
    * has for text, here at the byte level.
    *
    * The rolling hash is the library's standard base-31 mod-1e9+7
    * polynomial over UNSIGNED byte values (for ASCII payloads equal to
    * the char codepoints, which is what lets a SQL oracle replicate
    * boundaries on the text form); chunk ids are the portable 60-bit
    * md5 fold (first 15 hex digits — `Native.md5FoldOf`'s definition)
    * of the chunk bytes. Output: one row per DISTINCT chunk hash per
    * payload — the set signature downstream similarity consumes.
    *
    * Partition-local mapPartitions (the documented multimodal last
    * resort — byte-level codec-adjacent work has no Catalyst
    * expression form); no shuffle; average chunk size ≈ `divisor`
    * bytes.
    */
  def cdcChunks(df: DataFrame, payloadCol: String, idCol: String,
                window: Int = 8, divisor: Int = 16): DataFrame = {
    require(window >= 1 && divisor >= 2,
      s"window must be >= 1 and divisor >= 2, got $window/$divisor")
    val input = df.select(col(idCol).cast("long").as("doc_id"),
      col(payloadCol).as("payload"))
    val enc = org.apache.spark.sql.Encoders.row(chunkSchema)
    val P = 1000000007L
    // 31^(window-1) mod P — the high-byte eviction factor
    val evict = (1 until window).foldLeft(1L)((a, _) => a * 31 % P)
    input.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      def fold60(bytes: Array[Byte], from: Int, until: Int): Long = {
        md.reset()
        md.update(bytes, from, until - from)
        val dig = md.digest()
        // first 15 hex digits == top 60 bits of the digest
        var acc = 0L
        var i = 0
        while (i < 15) {
          val b = dig(i / 2) & 0xff
          acc = (acc << 4) | (if (i % 2 == 0) b >> 4 else b & 0xf)
          i += 1
        }
        acc
      }
      rows.flatMap { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        if (bytes == null || bytes.isEmpty) Iterator.empty
        else {
          val hs = new java.util.LinkedHashSet[Long]()
          var h = 0L
          var start = 0
          var p = 0
          while (p < bytes.length) {
            val in = bytes(p) & 0xff
            h = (h * 31 + in) % P
            if (p >= window) {
              val out = bytes(p - window) & 0xff
              // add P*31 so the subtraction never goes negative
              h = (h + P * 31 - out * evict % P * 31 % P) % P
            }
            if (p >= window - 1 && h % divisor == 0) {
              hs.add(fold60(bytes, start, p + 1))
              start = p + 1
            }
            p += 1
          }
          if (start < bytes.length) hs.add(fold60(bytes, start, bytes.length))
          val it = hs.iterator()
          new Iterator[Row] {
            def hasNext: Boolean = it.hasNext
            def next(): Row = Row(id, it.next())
          }
        }
      }
    }(enc)
  }

  /** PERCEPTUAL near-dup for binary payloads — the rung between m4
    * (byte-exact md5) and d5/d8 (embedding cosine): a re-encoded or
    * trimmed payload (ten crawls, ten byte streams, one picture)
    * passes m4 untouched but shares most of its content-defined
    * chunks, so set similarity over [[cdcChunks]] signatures flags it.
    * Jaccard over chunk-hash sets, d4's machinery at the byte level:
    * candidates from an inverted chunk index (df-capped — a chunk
    * shared by more than `maxDf` payloads is container boilerplate, a
    * codec header every file carries, and pairs nothing), verified by
    * exact Jaccard over the full per-payload sets.
    *
    * Scale shape: chunking is map-only; the index is one groupBy on
    * the 8-byte chunk hash; candidate pairs are bounded by maxDf² per
    * rare chunk; the verify join carries sorted hash arrays (native
    * two-pointer intersect) and is size-gated via AQE. Nothing
    * all-pairs, payloads never shuffle — only their hash sets do.
    */
  def payloadNearDupPairs(df: DataFrame, payloadCol: String, idCol: String,
                          threshold: Double = 0.5, window: Int = 8,
                          divisor: Int = 16, maxDf: Int = 20): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val chunks0 = cdcChunks(df, payloadCol, idCol, window, divisor)
    // the chunk table feeds four subplans (sets, the index, both join
    // legs) — without the persist the byte-level chunking re-runs per
    // consumer (sweep via GraftSession.sweep in long-lived sessions)
    val chunks = chunks0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sets = chunks.groupBy("doc_id")
      .agg(sort_array(collect_list(col("h"))).as("hs"),
        count(lit(1)).as("n"))
    val rare = chunks.groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= maxDf)
      .select("h")
    val candidates = chunks.join(rare, "h").as("a")
      .join(chunks.join(rare, "h").as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    val verified = candidates
      .join(sets.select(col("doc_id").as("id1"), col("hs").as("h1"),
        col("n").as("n1")), Seq("id1"))
      .join(sets.select(col("doc_id").as("id2"), col("hs").as("h2"),
        col("n").as("n2")), Seq("id2"))
      .withColumn("inter",
        Dedup.intersectSize(df, col("h1"), col("h2")).cast("double"))
    val union = col("n1").cast("double") + col("n2").cast("double") - col("inter")
    verified
      .withColumn("jaccard",
        graft.functions.num.fround(
          when(union === 0.0, 0.0).otherwise(col("inter") / union), 4))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  def payloadDedup(df: DataFrame, payloadCol: String, idCol: String): DataFrame = {
    val fps = df.select(col(idCol).as("id"), md5(col(payloadCol)).as("fp"))
    // a NULL payload is UNKNOWN content, not shared content: such rows
    // keep themselves as canonical (never merged, never dropped) — the
    // left join + coalesce, where an inner equi-join would silently
    // drop every null-key row
    val firsts = fps.where(col("fp").isNotNull)
      .groupBy("fp").agg(min(col("id")).as("canonical_id"))
    fps.join(firsts, Seq("fp"), "left")
      .select(col("id"), col("fp"),
        coalesce(col("canonical_id"), col("id")).as("canonical_id"),
        when(col("id") =!= coalesce(col("canonical_id"), col("id")), 1)
          .otherwise(0).as("is_dup"))
  }
}
