package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Codegen'd pair expansion over per-key aligned arrays, one
  * [[PairExpand.Kind]] per SQL function: the generator behind every CF
  * pair aggregate. Each kind's loop is written once, as its `expand`
  * kernel; `eval` calls it and `doGenCode` emits a one-line call to it,
  * so whole-stage codegen and the interpreted path run the same code.
  * The kernels replace higher-order-function and self-product
  * formulations that Catalyst interprets and that allocate an O(n)
  * `slice` copy per element, or n² rows per key, before filtering.
  *
  * Shared bounds contract: per-key arrays are capped upstream
  * (MaxHistory / SwingUserCap / HotShingleDf / SeqCap /
  * [[graft.operators.MlRecsys.SeqExactCap]]) with the kind's `maxElems`
  * as the fail-fast backstop; aligned arrays have equal lengths; packed
  * ids must be non-null, non-negative and < 2³² for the packing
  * a·2³² + b to be lossless. Every violation throws, naming the SQL
  * function.
  */
case class PairExpand(kind: PairExpand.Kind, children: Seq[Expression]) extends Expression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val elems = children.map(_.dataType).collect { case ArrayType(e, _) => e }
    if (elems == kind.inputs) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${kind.name} expects (${kind.inputs.map(ArrayType(_).simpleString).mkString(", ")}), " +
        s"got (${children.map(_.dataType.simpleString).mkString(", ")})")
  }

  override def dataType: DataType = ArrayType(kind.out, containsNull = false)

  override def nullable: Boolean = children.exists(_.nullable)

  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: InternalRow): Any = {
    val args = children.map(_.eval(input).asInstanceOf[ArrayData])
    if (args.contains(null)) null
    else kind.expand(args.head, args.lift(1).orNull, args.lift(2).orNull)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kindRef = ctx.addReferenceObj("kind", kind, classOf[PairExpand.Kind].getName)
    val args = children.map(_.genCode(ctx))
    val anyNull = if (nullable) args.map(_.isNull.toString).mkString(" || ") else "false"
    val slots = (args.map(_.value.toString) ++ Seq.fill(3 - args.length)("null")).mkString(", ")
    ev.copy(code = code"""
      |${Block.blocksToBlock(args.map(_.code))}
      |boolean ${ev.isNull} = $anyNull;
      |${CodeGenerator.javaType(dataType)} ${ev.value} = ${ev.isNull} ? null : $kindRef.expand($slots);
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)

  override def prettyName: String = kind.name

  // plans print `pair_pack(ids#1L)`, without the kind
  override protected def stringArgs: Iterator[Any] = children.iterator
}

object PairExpand {

  /** One SQL function: its name, the element types of its aligned
    * input arrays, its output element type, its group-size backstop,
    * and its kernel. `expand` takes the aligned arrays in order; slots
    * past the kind's arity are null. */
  sealed abstract class Kind(val name: String, val inputs: Seq[DataType], val out: DataType,
      val maxElems: Int) extends Serializable {

    def expand(a: ArrayData, b: ArrayData, c: ArrayData): ArrayData

    protected final def checkSize(n: Int): Unit =
      if (n > maxElems) throw new IllegalArgumentException(
        s"$name: group of $n elements exceeds $maxElems; cap the per-key list upstream")

    protected final def checkAligned(n: Int, other: ArrayData): Unit =
      if (other.numElements() != n) throw new IllegalArgumentException(
        s"$name: aligned arrays differ in length ($n vs ${other.numElements()})")

    protected final def checkId(e: Long): Long = {
      if ((e & ~(PairPack.Base - 1L)) != 0L) throw new IllegalArgumentException(
        s"$name: element $e outside [0, 2^32) — packing would be lossy")
      e
    }

    // The monotone pointers are only correct on sorted keys; the kinds
    // are SQL-registered, so arbitrary callers must get an error — not
    // silently wrong pairs — on unsorted input.
    protected final def checkSorted(keys: ArrayData, i: Int): Unit =
      if (i > 0 && keys.getLong(i) < keys.getLong(i - 1)) throw new IllegalArgumentException(
        s"$name: keys must be non-decreasing (key at index $i is smaller than its predecessor); " +
          "sort_array the zipped arrays upstream")

    /** n(n−1)/2: the i<j pair count, an Int for n ≤ [[PairPack.MaxElems]]. */
    protected final def halfPairs(n: Int): Int = ((n.toLong * (n - 1)) / 2).toInt
  }

  /** `pair_pack(ids)`: every positional i<j pair of a sorted long array,
    * packed as ids(i)·2³² + ids(j). */
  case object Pack extends Kind("pair_pack", Seq(LongType), LongType, PairPack.MaxElems) {
    def expand(xs: ArrayData, b: ArrayData, c: ArrayData): ArrayData = {
      val n = xs.numElements()
      checkSize(n)
      val out = new Array[Long](halfPairs(n))
      var p = 0
      var i = 0
      while (i < n) {
        val a = checkId(xs.getLong(i)) * PairPack.Base
        var j = i + 1
        while (j < n) { out(p) = a + xs.getLong(j); p += 1; j += 1 }
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  /** `pair_prod(vals)`: v(i)·v(j) for all i<j in EXACTLY `pair_pack`'s
    * iteration order — `arrays_zip(pair_pack(ids), pair_prod(vals))`
    * therefore aligns each packed id pair with its value product, which
    * is how the rating-weighted ItemCF pair aggregate rides one
    * generator. */
  case object Prod extends Kind("pair_prod", Seq(DoubleType), DoubleType, PairPack.MaxElems) {
    def expand(xs: ArrayData, b: ArrayData, c: ArrayData): ArrayData = {
      val n = xs.numElements()
      checkSize(n)
      val out = new Array[Double](halfPairs(n))
      var p = 0
      var i = 0
      while (i < n) {
        val a = xs.getDouble(i)
        var j = i + 1
        while (j < n) { out(p) = a * xs.getDouble(j); p += 1; j += 1 }
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  /** `pair_diff(vals)`: v(i)−v(j) for all i<j in EXACTLY `pair_pack`'s
    * iteration order — `arrays_zip(pair_pack(ids), pair_diff(vals))`
    * aligns each packed id pair with its value difference. This is the
    * Slope One deviation kernel: summing the aligned differences per
    * item pair gives Σ(r_ui − r_uj), i.e. co-count · dev(i,j), with the
    * same single-generator, no-self-join plan shape as the CF pair
    * aggregate. */
  case object Diff extends Kind("pair_diff", Seq(DoubleType), DoubleType, PairPack.MaxElems) {
    def expand(xs: ArrayData, b: ArrayData, c: ArrayData): ArrayData = {
      val n = xs.numElements()
      checkSize(n)
      val out = new Array[Double](halfPairs(n))
      var p = 0
      var i = 0
      while (i < n) {
        val a = xs.getDouble(i)
        var j = i + 1
        while (j < n) { out(p) = a - xs.getDouble(j); p += 1; j += 1 }
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  /** `pair_pack_after(keys, ids)`: STRICTLY-LATER pairs. Given aligned
    * keys (non-decreasing, e.g. first-purchase timestamps) and ids, emits
    * ids(i)·2³² + ids(j) for every i < j with keys(j) > keys(i). Equal
    * keys are incomparable and yield no pair, so the result does not
    * depend on how ties would sort: the sequential "bought A strictly
    * before B" semantics. As keys are sorted, the inner loop starts at a
    * monotone pointer (first index with a strictly larger key), so
    * tie-heavy groups skip their incomparable prefix instead of testing it. */
  case object PackAfter
      extends Kind("pair_pack_after", Seq(LongType, LongType), LongType, PairPack.MaxElems) {
    def expand(ks: ArrayData, ids: ArrayData, c: ArrayData): ArrayData = {
      val n = ks.numElements()
      checkAligned(n, ids)
      checkSize(n)
      val out = new Array[Long](halfPairs(n))
      var p = 0
      var lo = 0
      var i = 0
      while (i < n) {
        val a = checkId(ids.getLong(i)) * PairPack.Base
        checkSorted(ks, i)
        val k = ks.getLong(i)
        if (lo <= i) lo = i + 1
        while (lo < n && ks.getLong(lo) <= k) lo += 1
        var j = lo
        while (j < n) { out(p) = a + ids.getLong(j); p += 1; j += 1 }
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, p))
    }
  }

  /** `span_pair_pack(smin, ids, smax)`: SPAN pairs for the exact
    * sequential-pattern tier. Given three aligned arrays — per-item
    * first-step `smin` (non-decreasing), item ids, and per-item
    * last-step `smax` — emits `ids(i)·2³² + ids(j)` for every ORDERED
    * position pair i ≠ j with `smin(i) < smax(j)`, i.e. every "item_i in
    * some basket strictly before a basket containing item_j" pattern
    * witness. Only the QUALIFYING pairs are written: because `smin` is
    * sorted ascending, the i's qualifying against a given j are exactly
    * the prefix with smin < smax(j), found by one monotone scan per j. */
  case object SpanPack extends Kind("span_pair_pack", Seq(LongType, LongType, LongType), LongType,
      SpanPairPack.MaxElems) {
    def expand(smin: ArrayData, ids: ArrayData, smax: ArrayData): ArrayData = {
      val n = smin.numElements()
      checkAligned(n, ids)
      checkAligned(n, smax)
      checkSize(n)
      // pass 1: qualifying-prefix length per j (smin sorted ⇒ one scan
      // each) + id/sort validation; pass 2: exact-size fill
      val hi = new Array[Int](n)
      var total = 0L
      var j = 0
      while (j < n) {
        checkId(ids.getLong(j))
        checkSorted(smin, j)
        val x = smax.getLong(j)
        var h = 0
        while (h < n && smin.getLong(h) < x) h += 1
        hi(j) = h
        total += h - (if (j < h) 1 else 0) // i ranges over the prefix, minus i=j
        j += 1
      }
      val out = new Array[Long](total.toInt)
      var p = 0
      j = 0
      while (j < n) {
        val b = ids.getLong(j)
        var i = 0
        val h = hi(j)
        while (i < h) {
          if (i != j) { out(p) = ids.getLong(i) * PairPack.Base + b; p += 1 }
          i += 1
        }
        j += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  private[functions] def column(kind: Kind, cs: Column*): Column =
    GraftSqlBridge.column(PairExpand(kind, cs.map(GraftSqlBridge.expression)))
}

object PairPack {
  /** Packing base (2³²): ids must be below this. */
  val Base = 4294967296L

  /** Max per-key list size, the fail-fast backstop for lists capped
    * upstream (MaxHistory / SwingUserCap / HotShingleDf): n(n−1)/2 stays
    * well inside Int and a single group's pair array stays allocatable. */
  val MaxElems = 65535

  def pairPack(c: Column): Column = PairExpand.column(PairExpand.Pack, c)

  /** Validated SCALAR pair pack (a·2³² + b): `pair_pack` over a
    * 2-element array, so scalar call sites (SimRank's contribution key)
    * share the exact packing formula AND its [0, 2^32) range check with
    * the generator sites: an out-of-range id fails fast rather than
    * silently mismatching the validated store side of a pk join. */
  def packPair(a: Column, b: Column): Column =
    pairPack(org.apache.spark.sql.functions.array(a, b)).getItem(0)
}

object PairProd { def pairProd(c: Column): Column = PairExpand.column(PairExpand.Prod, c) }

object PairDiff { def pairDiff(c: Column): Column = PairExpand.column(PairExpand.Diff, c) }

object PairPackAfter {
  def pairPackAfter(keys: Column, ids: Column): Column =
    PairExpand.column(PairExpand.PackAfter, keys, ids)
}

object SpanPairPack {
  /** Max per-key list size: n(n−1) ORDERED pairs must stay inside an
    * Int-sized allocation (tighter than PairPack's half-space bound).
    * Callers cap lists upstream (SeqExactCap = 200). */
  val MaxElems = 46340

  def spanPairPack(smin: Column, ids: Column, smax: Column): Column =
    PairExpand.column(PairExpand.SpanPack, smin, ids, smax)
}
