package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{col, explode, posexplode}
import org.apache.spark.sql.types._

/** Bounded top-K buffer: entries ordered by (score desc, id asc), at
  * most k kept. Flat primitive arrays; `worst` tracks the current
  * eviction candidate so a full buffer rejects most offers with one
  * comparison.
  */
final class TopKBuffer(val k: Int) {
  var size = 0
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  val extras = new Array[Long](k)
  private var worst = -1 // index of the entry top-k order evicts first

  @inline private def beats(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 > s2 || (s1 == s2 && i1 < i2)

  private def recomputeWorst(): Unit = {
    var w = 0
    var i = 1
    while (i < size) {
      if (beats(scores(w), ids(w), scores(i), ids(i))) w = i
      i += 1
    }
    worst = w
  }

  def offer(s: Double, id: Long, extra: Long): Unit = {
    if (size < k) {
      scores(size) = s; ids(size) = id; extras(size) = extra
      size += 1
      if (size == k) recomputeWorst()
    } else if (beats(s, id, scores(worst), ids(worst))) {
      scores(worst) = s; ids(worst) = id; extras(worst) = extra
      recomputeWorst()
    }
  }

  def mergeFrom(o: TopKBuffer): Unit = {
    var i = 0
    while (i < o.size) { offer(o.scores(i), o.ids(i), o.extras(i)); i += 1 }
  }

  /** Indices sorted by (score desc, id asc). */
  def sortedIdx: Array[Int] =
    Array.range(0, size).sortWith((a, b) => beats(scores(a), ids(a), scores(b), ids(b)))
}

/** Custom Catalyst aggregate (SURVEY.md §2.12): per-group top-K by
  * score with a deterministic (score desc, id asc) order, as a
  * `TypedImperativeAggregate` — the same surface a sketch (HLL, CMS)
  * would use.
  *
  * WHY not a window: `row_number().over(partitionBy(g).orderBy(...))
  * <= k` must sort the whole input (WindowGroupLimit prunes per map
  * partition, but still sorts and then shuffles survivors). This
  * aggregate's PARTIAL phase keeps at most k entries per (group,
  * partition) in a bounded buffer — no sort, and the shuffle carries
  * ≤ k·|groups| rows regardless of input size. At 25M mirrored
  * similarity rows that is the difference between sorting 25M and
  * heap-scanning them map-side.
  *
  * Output: array<struct<score double, id long, extra long>> in rank
  * order; [[TopKByScore.rows]] and [[TopKByScore.ranked]] turn it into
  * rows.
  */
case class TopKByScore(
    score: Expression, id: Expression, extra: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  require(k > 0, "top_k_by_score requires k > 0")

  override def children: Seq[Expression] = Seq(score, id, extra)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(TopKByScore.entryType, containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      val e = extra.eval(input)
      b.offer(s.asInstanceOf[Double], i.asInstanceOf[Long],
        if (e == null) 0L else e.asInstanceOf[Long])
    }
    b
  }

  override def merge(b: TopKBuffer, o: TopKBuffer): TopKBuffer = { b.mergeFrom(o); b }

  override def eval(b: TopKBuffer): Any = {
    val out = b.sortedIdx.map { i =>
      InternalRow(b.scores(i), b.ids(i), b.extras(i)): Any
    }
    new GenericArrayData(out)
  }

  override def serialize(b: TopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.k); out.writeInt(b.size)
    var i = 0
    while (i < b.size) {
      out.writeDouble(b.scores(i)); out.writeLong(b.ids(i)); out.writeLong(b.extras(i))
      i += 1
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val bk = in.readInt(); val n = in.readInt()
    val b = new TopKBuffer(bk)
    var i = 0
    while (i < n) { b.offer(in.readDouble(), in.readLong(), in.readLong()); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1), extra = newChildren(2))
  override def prettyName: String = "top_k_by_score"
}

object TopKByScore {
  val entryType: StructType = StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("extra", LongType, nullable = false)))

  /** Column surface: top-k (score desc, id asc) entries per group. */
  def topK(k: Int, score: Column, id: Column, extra: Column): Column =
    GraftSqlBridge.column(
      TopKByScore(
        GraftSqlBridge.expression(score),
        GraftSqlBridge.expression(id),
        GraftSqlBridge.expression(extra), k).toAggregateExpression())

  /** Each `keys` group's top k rows of `df`, `keys ++ (id, score,
    * extra)`, unranked (explode). Callers rename with one `select`.
    *
    * Per-key top-K by aggregate, not a `row_number()` window: the
    * partial phase caps every (group, partition) at k entries, so there
    * is no full sort and the shuffle carries at most k·|groups| rows.
    * The rows are exactly those of `row_number() OVER (PARTITION BY keys
    * ORDER BY score DESC, id ASC) <= k`, ties included, whatever the
    * partitioning. */
  def rows(df: DataFrame, keys: Seq[String], k: Int,
      score: Column, id: Column, extra: Column): DataFrame =
    grouped(df, keys, k, score, id, extra)
      .select(keys.map(col) :+ explode(col("topk")).as("e"): _*)
      .select(keys.map(col) ++ entryCols: _*)

  /** [[rows]] ranked: `keys ++ (rk, id, score, extra)`, where `rk` is the
    * 1-based Int rank of the `row_number()` window (posexplode). */
  def ranked(df: DataFrame, keys: Seq[String], k: Int,
      score: Column, id: Column, extra: Column): DataFrame =
    grouped(df, keys, k, score, id, extra)
      .select(keys.map(col) :+ posexplode(col("topk")).as(Seq("pos", "e")): _*)
      .select(keys.map(col) ++ ((col("pos") + 1).cast("int").as("rk") +: entryCols): _*)

  private def grouped(df: DataFrame, keys: Seq[String], k: Int,
      score: Column, id: Column, extra: Column): DataFrame =
    df.groupBy(keys.head, keys.tail: _*).agg(topK(k, score, id, extra).as("topk"))

  private def entryCols: Seq[Column] =
    Seq(col("e.id").as("id"), col("e.score").as("score"), col("e.extra").as("extra"))
}
