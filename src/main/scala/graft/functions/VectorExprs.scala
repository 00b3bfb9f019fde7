package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen dot product over two `array<float>` columns
  * (SURVEY.md §2.12's profiling-gated candidate — round-1 bench showed
  * the higher-order-function formulation
  * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0D, (s,v) -> s+v)`
  * costing ~13 s in q_dedup_embedding alone: each pair allocates a
  * 64-element intermediate array and interprets two lambdas per element).
  *
  * Semantics are IDENTICAL to that HOF expression — left-to-right
  * accumulation in DOUBLE — so every oracle comparison (DuckDB
  * `list_reduce` folds the same way) is unchanged to the last bit.
  * Inputs are assumed equal-length with no null elements (the fixture
  * embeddings are fixed-width); length is clamped to the shorter side.
  *
  * Stays inside whole-stage codegen: `doGenCode` emits a tight primitive
  * loop with no allocation, exactly what a 100 TB scan wants.
  */
case class FloatDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_dot expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |final int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "float_dot"
}

/** Column/SQL surface for the vector expressions. */
object VectorFunctions {

  /** Dot product of two float-array columns as a codegen'd DOUBLE. */
  def floatDot(a: Column, b: Column): Column =
    GraftSqlBridge.column(FloatDot(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** L2 norm of a float-array column. */
  def floatNorm(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(floatDot(a, a))

  /** Register `float_dot` for SQL-text call sites on this session. */
  def register(spark: SparkSession): Unit =
    GraftSqlBridge.registerFunction(spark, "float_dot",
      exprs => FloatDot(exprs(0), exprs(1)))
}

/** SparkSessionExtensions hook so external users get graft's native
  * SQL functions at session build time (`.withExtensions(new
  * GraftExtensions)` or `spark.sql.extensions=graft.functions
  * .GraftExtensions`): scalars `float_dot`, the [[PairExpand]] kinds
  * `pair_pack`, `pair_prod`, `pair_diff`, `pair_pack_after`, `shingles`,
  * `double_bits`, `bits_double`, `bloom_might_contain`; aggregates
  * `top_k_by_score(k, score, id, extra)`, `misra_gries(k, key)`,
  * `kmv_mins(k, key)`, `bloom_agg(bits, hashes, key)`.
  * The driver harness builds plain sessions, so library queries call
  * the Column surfaces directly.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    def inject(name: String, clazz: Class[_], builder: Seq[Expression] => Expression): Unit =
      e.injectFunction((
        new FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), builder))
    inject("float_dot", classOf[FloatDot], exprs => FloatDot(exprs(0), exprs(1)))
    Seq(PairExpand.Pack, PairExpand.Prod, PairExpand.Diff, PairExpand.PackAfter).foreach(kind =>
      inject(kind.name, classOf[PairExpand], exprs => PairExpand(kind, exprs)))
    // width must be a foldable literal (evaluated at registration)
    inject("shingles", classOf[Shingles],
      exprs => Shingles(exprs(0), exprs(1).eval().asInstanceOf[Number].intValue))
    inject("double_bits", classOf[DoubleBits], exprs => DoubleBits(exprs(0)))
    inject("bits_double", classOf[BitsDouble], exprs => BitsDouble(exprs(0)))
    // aggregates: the analyzer wraps returned AggregateFunctions itself;
    // sketch parameters must be foldable literals
    def intArg(e: Expression): Int = e.eval().asInstanceOf[Number].intValue
    inject("top_k_by_score", classOf[TopKByScore],
      exprs => TopKByScore(exprs(1), exprs(2), exprs(3), intArg(exprs(0))))
    inject("misra_gries", classOf[MisraGries],
      exprs => MisraGries(exprs(1), intArg(exprs(0))))
    inject("kmv_mins", classOf[KmvMins],
      exprs => KmvMins(exprs(1), intArg(exprs(0))))
    inject("bloom_agg", classOf[BloomAgg],
      exprs => BloomAgg(exprs(2), intArg(exprs(0)), intArg(exprs(1))))
    inject("bloom_might_contain", classOf[BloomMightContain],
      exprs => BloomMightContain(exprs(0), exprs(1), intArg(exprs(2))))
  }
}
