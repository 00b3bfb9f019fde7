package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{PairDiff, PairPack, PairPackAfter, PairProd, SpanPairPack, TopKByScore}

/** Times the custom pair-expansion generators and the TopK aggregate
  * against built-in formulations of the same result (a `posexplode`
  * self-join; a `row_number` window) on seeded synthetic arrays, and
  * checks that each pair returns the same rows.
  */
object FunctionsBench {
  final case class Result(name: String, customS: Double, builtinS: Double, equal: Boolean)

  private val Base = PairPack.Base
  private val Groups = 1500
  private val Elems = 40

  /** One row per group: sorted distinct ids, aligned values, aligned
    * non-decreasing keys, and span bounds with smin <= smax. */
  def arrays(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val rows = (0 until Groups).map { g =>
      val ids = Iterator.continually(rnd.nextInt(100000).toLong).distinct.take(Elems).toArray.sorted
      val vals = Array.fill(Elems)(math.round(rnd.nextDouble() * 1000) / 100.0)
      val keys = Array.fill(Elems)(rnd.nextInt(20).toLong).sorted
      val smax = keys.map(_ + rnd.nextInt(5))
      (g.toLong, ids, vals, keys, smax)
    }
    rows.toDF("g", "ids", "vals", "keys", "smax")
  }

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Element rows (g, i, id, val, key, smax) for the built-in forms. */
  private def elems(in: DataFrame, side: String): DataFrame =
    in.select(col("g"), posexplode(arrays_zip(col("ids"), col("vals"), col("keys"), col("smax"))))
      .select(col("g"), col("pos").as(s"i$side"), col("col.ids").as(s"id$side"),
        col("col.vals").as(s"v$side"), col("col.keys").as(s"k$side"), col("col.smax").as(s"x$side"))

  private def selfJoin(in: DataFrame, cond: Column): DataFrame =
    elems(in, "a").join(elems(in, "b"), Seq("g")).where(cond)

  private val packed: Column = col("ida") * lit(Base) + col("idb")

  def run(spark: SparkSession, seed: Long): Seq[Result] = {
    val in = arrays(spark, seed).cache()
    in.count()
    def pair(name: String, custom: DataFrame, builtin: DataFrame): Result =
      Result(name, Runner.noopSeconds(custom), Runner.noopSeconds(builtin), same(custom, builtin))
    val results = Seq(
      pair("PairPack",
        in.select(col("g"), explode(PairPack.pairPack(col("ids"))).as("pk")),
        selfJoin(in, col("ia") < col("ib")).select(col("g"), packed.as("pk"))),
      pair("PairProd",
        in.select(col("g"), explode(arrays_zip(PairPack.pairPack(col("ids")),
          PairProd.pairProd(col("vals")))).as("z")).select(col("g"), col("z.*")).toDF("g", "pk", "v"),
        selfJoin(in, col("ia") < col("ib")).select(col("g"), packed, col("va") * col("vb"))
          .toDF("g", "pk", "v")),
      pair("PairDiff",
        in.select(col("g"), explode(arrays_zip(PairPack.pairPack(col("ids")),
          PairDiff.pairDiff(col("vals")))).as("z")).select(col("g"), col("z.*")).toDF("g", "pk", "v"),
        selfJoin(in, col("ia") < col("ib")).select(col("g"), packed, col("va") - col("vb"))
          .toDF("g", "pk", "v")),
      pair("PairPackAfter",
        in.select(col("g"), explode(PairPackAfter.pairPackAfter(col("keys"), col("ids"))).as("pk")),
        selfJoin(in, col("ia") < col("ib") && col("kb") > col("ka")).select(col("g"), packed.as("pk"))),
      pair("SpanPairPack",
        in.select(col("g"),
          explode(SpanPairPack.spanPairPack(col("keys"), col("ids"), col("smax"))).as("pk")),
        selfJoin(in, col("ia") =!= col("ib") && col("ka") < col("xb")).select(col("g"), packed.as("pk"))),
      {
        val k = 5
        val flat = elems(in, "a").select(col("g"), col("ida").as("id"), col("va").as("score"),
          col("ka").as("extra"))
        val custom = flat.groupBy("g").agg(TopKByScore.topK(k, col("score"), col("id"), col("extra")).as("t"))
          .select(col("g"), posexplode(col("t"))).select(col("g"), col("pos").as("rk"), col("col.*"))
        val builtin = flat.withColumn("rk",
            row_number().over(Window.partitionBy("g").orderBy(col("score").desc, col("id").asc)) - 1)
          .where(col("rk") < k).select("g", "rk", "score", "id", "extra")
        pair("TopKAgg", custom, builtin)
      })
    in.unpersist()
    results
  }
}
