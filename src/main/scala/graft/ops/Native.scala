package graft.ops

import org.apache.spark.sql.DataFrame

/** Native-kernel gating shared by the ops: a kernel is used when the
  * session registered it (GraftExtensions) and `graft.native.disabled`
  * is not set — the conf is the escape hatch that lets tests (and
  * users) exercise the pure-expression fallbacks in a session that has
  * the extension loaded.
  */
private[ops] object Native {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.call_function

  def enabled(df: DataFrame, fn: String): Boolean =
    df.sparkSession.catalog.functionExists(fn) &&
      !df.sparkSession.conf.get("graft.native.disabled", "false").toBoolean

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
    else graft.functions.text.normalize

  /** Portable 60-bit md5 fold — one digest call when the kernel is
    * registered, the conv(substring(md5)) string chain otherwise.
    * Values are identical by construction (the fold IS the base-16
    * parse of the same 15 hex nibbles), so oracle SQL replicating the
    * md5 idiom matches either path.
    */
  def md5FoldOf(df: DataFrame): Column => Column =
    if (enabled(df, "graft_md5_fold64"))
      c => call_function("graft_md5_fold64", c)
    else c => org.apache.spark.sql.functions
      .conv(org.apache.spark.sql.functions.substring(
        org.apache.spark.sql.functions.md5(c), 1, 15), 16, 10).cast("long")
}
