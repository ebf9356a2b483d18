package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{hashing, text}

/** Native-kernel gating shared by the ops: a kernel is used when the
  * session registered it (GraftExtensions) and `graft.native.disabled`
  * is not set — the conf is the escape hatch that lets tests (and
  * users) exercise the pure-expression fallbacks in a session that has
  * the extension loaded. The same conf also switches off the injected
  * [[graft.plans.TopKRewriteRule]], so one switch covers every native
  * path.
  *
  * A kernel whose call sites build the same expressions has ONE entry
  * point here that makes the native-or-fallback decision (`dotOf`,
  * `normOf`, `md5FoldOf`, `textStatsOf`, `hyperplaneSigOf`,
  * `ngramHashesOf`, `topKOf`); the ops call the entry point and never
  * branch on the kernel themselves. Only a kernel used at one site, or
  * whose sites build different plans (`graft_winnow`,
  * `graft_cos_topc`), is checked with [[enabled]] at its site. Each
  * fallback returns what its kernel returns, for every input.
  */
private[graft] object Native {

  /** Set to `true` to run every fallback in a session that loaded the
    * extension.
    */
  val DisabledConf = "graft.native.disabled"

  def enabled(df: DataFrame, fn: String): Boolean =
    df.sparkSession.catalog.functionExists(fn) &&
      !df.sparkSession.conf.get(DisabledConf, "false").toBoolean

  /** Native codegen'd dot kernel when available; HOF fallback
    * otherwise. Same accumulation order — bit-identical results.
    */
  def dotOf(df: DataFrame): (Column, Column) => Column =
    if (enabled(df, "graft_vector_dot"))
      (a, b) => call_function("graft_vector_dot", a, b)
    else graft.functions.vectors.dot

  /** Single-pass native normalize when available; the two-regex
    * expression chain otherwise. Identical output for every input
    * (the kernel's non-ASCII slow path IS the expression semantics).
    */
  def normOf(df: DataFrame): Column => Column =
    if (enabled(df, "graft_normalize"))
      c => call_function("graft_normalize", c)
    else text.normalize

  /** Portable 60-bit md5 fold — one digest call when the kernel is
    * registered, the conv(substring(md5)) string chain otherwise.
    * Values are identical by construction (the fold IS the base-16
    * parse of the same 15 hex nibbles), so oracle SQL replicating the
    * md5 idiom matches either path.
    */
  def md5FoldOf(df: DataFrame): Column => Column =
    if (enabled(df, "graft_md5_fold64"))
      c => call_function("graft_md5_fold64", c)
    else c => conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** The text-statistics struct (n_tokens, sum_tok_len, max_tok_len,
    * hits_en/es/fr/de, n_punct, n_digit, n_chars) of a string column:
    * the one-pass `graft_text_stats` kernel when registered,
    * [[graft.functions.text.textStats]]'s expression struct otherwise —
    * same schema, same values, null for a null text. Callers stage the
    * struct in its own column when they read several fields, so it is
    * evaluated once per row.
    */
  def textStatsOf(df: DataFrame): Column => Column =
    if (enabled(df, "graft_text_stats"))
      c => call_function("graft_text_stats", c)
    else text.textStats

  /** Packed random-hyperplane sign bits of a vector column against
    * `planes`: the `graft_hyperplane_sig` kernel over the flattened
    * planes when registered, [[graft.functions.vectors.hyperplaneSig]]
    * otherwise — identical bits.
    */
  def hyperplaneSigOf(df: DataFrame, planes: Seq[Array[Double]],
                      dim: Int): Column => Column =
    if (enabled(df, "graft_hyperplane_sig"))
      v => call_function("graft_hyperplane_sig", v,
        lit(planes.flatten.toArray), lit(dim))
    else v => graft.functions.vectors.hyperplaneSig(v, planes)

  /** `staged` with its materialized `toks` column (see
    * [[graft.functions.text.wordNgramsOfTokens]]) replaced by `grams`,
    * the distinct xxhash64 hashes of its word `n`-grams, every other
    * column kept. The `graft_ngram_hashes` kernel hashes exactly the
    * bytes of each space-joined gram with the xxhash64 seed, so its
    * set equals the fallback's (`wordNgramsOfTokens`, then
    * `elementHashes`).
    */
  def ngramHashesOf(staged: DataFrame, n: Int): DataFrame = {
    val keep = staged.columns.toSeq.filter(_ != "toks").map(col)
    if (enabled(staged, "graft_ngram_hashes"))
      staged.select(keep :+
        call_function("graft_ngram_hashes", col("toks"), lit(n)).as("grams"): _*)
    else staged
      .select(keep :+ text.wordNgramsOfTokens(col("toks"), n).as("g"): _*)
      .select(keep :+ hashing.elementHashes(col("g")).as("grams"): _*)
  }

  /** The top `k` rows per `group` by (`score` desc, `id` asc), as
    * (group, rank 1-based INT, id, score).
    *
    * Native path: the bounded `graft_topk` aggregate (score DOUBLE, id
    * BIGINT) — partial-agg friendly, so each map task forwards at most
    * k entries per group and the shuffle carries O(k · groups ·
    * partitions) rows, never a per-group sort. Fallback: the
    * `row_number` window idiom, the same rows.
    *
    * Rows with a null score or a null id are skipped on both paths
    * (the aggregate-null convention `graft_topk` follows), so a caller
    * excludes a row by nulling its score. The native path adds no
    * Filter for this: a deterministic filter is pushed below the
    * corpus loader's parallelism-floor exchange and re-evaluates the
    * score on the narrow scan split.
    */
  def topKOf(df: DataFrame, group: String, score: String, id: String,
             k: Int): DataFrame =
    if (enabled(df, "graft_topk"))
      df.groupBy(group)
        .agg(call_function("graft_topk", col(score), col(id), lit(k)).as("topk"))
        .select(col(group), posexplode(col("topk")))
        .select(col(group), (col("pos") + 1).cast("int").as("rank"),
          col("col.id").as(id), col("col.score").as(score))
    else {
      val w = Window.partitionBy(group).orderBy(col(score).desc, col(id))
      df.filter(col(score).isNotNull && col(id).isNotNull)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col(group), col("rank"), col(id), col(score))
    }
}
