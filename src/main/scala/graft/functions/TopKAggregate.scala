package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k buffer: a size-k min-heap whose root is the WORST
  * retained entry under the ranking (score desc, id asc). Insertion is
  * O(log k) and the buffer never exceeds k entries — the property that
  * makes the aggregate safe as a map-side partial at any group size.
  */
final class TopKHeap(val k: Int) {
  var n: Int = 0
  val scores: Array[Double] = new Array[Double](math.max(k, 1))
  val ids: Array[Long] = new Array[Long](math.max(k, 1))

  /** (s1,i1) ranks strictly worse than (s2,i2): lower score, or same
    * score with the larger id (matching ORDER BY score DESC, id ASC).
    * Scores compare as Spark's DoubleType ordering does: NaN ranks
    * above every number and equals NaN, and -0.0 equals 0.0 — so a
    * NaN-scored row wins desc ordering on both paths, and signed zeros
    * tie on the id.
    */
  @inline private def worse(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = if (s1 == s2) 0 else java.lang.Double.compare(s1, s2)
    c < 0 || (c == 0 && i1 > i2)
  }

  def insert(s: Double, id: Long): Unit = {
    if (k == 0) return
    if (n < k) {
      scores(n) = s; ids(n) = id; n += 1
      var i = n - 1
      while (i > 0) {
        val p = (i - 1) >> 1
        if (worse(scores(i), ids(i), scores(p), ids(p))) { swap(i, p); i = p }
        else return
      }
    } else if (worse(scores(0), ids(0), s, id)) {
      scores(0) = s; ids(0) = id
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = l + 1
        var m = i
        if (l < n && worse(scores(l), ids(l), scores(m), ids(m))) m = l
        if (r < n && worse(scores(r), ids(r), scores(m), ids(m))) m = r
        if (m == i) done = true
        else { swap(i, m); i = m }
      }
    }
  }

  @inline private def swap(i: Int, j: Int): Unit = {
    val s = scores(i); scores(i) = scores(j); scores(j) = s
    val t = ids(i); ids(i) = ids(j); ids(j) = t
  }

  /** Retained entries best-first (score desc, id asc). */
  def sortedIndices: Array[Int] =
    Array.range(0, n).sortWith((a, b) => worse(scores(b), ids(b), scores(a), ids(a)))
}

/** `graft_topk(score double, id bigint, k) -> array<struct<score,id>>`
  *
  * Bounded top-k as a real aggregate, replacing the
  * `row_number() OVER (PARTITION BY g ORDER BY score DESC, id)` +
  * `rank <= k` idiom on large groups. The window form shuffles and
  * sorts EVERY candidate row of a group; this aggregate is partial-agg
  * friendly (ObjectHashAggregate), so each map task forwards at most k
  * entries per group — shuffle volume drops from O(candidates) to
  * O(k · groups · partitions), the difference between an ANN query
  * that scales and one that sorts the corpus per probe. Output is
  * sorted best-first; ties break on the lower id, identical to the
  * window idiom, so the two forms are exchangeable row-for-row over
  * non-null inputs (NaN and signed-zero scores included — Spark's
  * double ordering). Rows
  * with a null score or id are SKIPPED, the standard aggregate-null
  * convention (cf. max/min); a window ranks null scores last instead,
  * so callers wanting exact window parity filter nulls first (the
  * graft ANN ops produce no null scores by construction).
  *
  * k must be a foldable literal (it sizes the buffer).
  */
case class TopKAgg(scoreExpr: Expression, idExpr: Expression, kExpr: Expression,
                   mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKHeap] {

  private lazy val k: Int = {
    require(kExpr.foldable, "graft_topk: k must be a literal")
    val v = kExpr.eval().asInstanceOf[Number].intValue()
    require(v >= 0, s"graft_topk: k must be >= 0, got $v")
    v
  }

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr, kExpr)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (scoreExpr.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_topk: score must be DOUBLE, got ${scoreExpr.dataType.sql}")
    else if (idExpr.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_topk: id must be BIGINT, got ${idExpr.dataType.sql}")
    else if (!kExpr.foldable ||
             kExpr.dataType != org.apache.spark.sql.types.IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_topk: k must be an INT literal, got ${kExpr.sql}")
    else TypeCheckResult.TypeCheckSuccess
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_topk"

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k)

  override def update(buffer: TopKHeap, input: InternalRow): TopKHeap = {
    val s = scoreExpr.eval(input)
    val id = idExpr.eval(input)
    if (s != null && id != null) {
      buffer.insert(s.asInstanceOf[Double], id.asInstanceOf[Number].longValue())
    }
    buffer
  }

  override def merge(buffer: TopKHeap, other: TopKHeap): TopKHeap = {
    var i = 0
    while (i < other.n) { buffer.insert(other.scores(i), other.ids(i)); i += 1 }
    buffer
  }

  override def eval(buffer: TopKHeap): Any =
    new GenericArrayData(buffer.sortedIndices.map { i =>
      InternalRow(buffer.scores(i), buffer.ids(i))
    }.toArray[Any])

  override def serialize(buffer: TopKHeap): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buffer.n)
    bb.putInt(buffer.n)
    var i = 0
    while (i < buffer.n) {
      bb.putDouble(buffer.scores(i)); bb.putLong(buffer.ids(i)); i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val bb = ByteBuffer.wrap(bytes)
    val h = new TopKHeap(k)
    val n = bb.getInt
    var i = 0
    while (i < n) { h.insert(bb.getDouble, bb.getLong); i += 1 }
    h
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1), kExpr = newChildren(2))
}
