package graft

import graft.functions.{TopKBuffer, TopKByScore}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Unit + property coverage for the bounded top-K aggregate
  * (graft.functions.TopKByScore): buffer laws directly, and its row
  * surface (`rows`, `ranked`) against the row_number window it replaces.
  */
class TopKAggSpec extends AnyFunSuite with SparkFixture {

  test("buffer keeps k best by (score desc, id asc) under any offer order") {
    val p = Prop.forAll(Gen.listOf(Gen.zip(Gen.chooseNum(-100.0, 100.0), Gen.chooseNum(0L, 50L))),
                        Gen.chooseNum(1, 8)) { (xs: List[(Double, Long)], k: Int) =>
      val b = new TopKBuffer(k)
      xs.foreach { case (s, id) => b.offer(s, id, id * 2) }
      val got = b.sortedIdx.map(i => (b.scores(i), b.ids(i), b.extras(i))).toList
      val want = xs.map { case (s, id) => (s, id, id * 2) }
        .sortWith((a, c) => a._1 > c._1 || (a._1 == c._1 && a._2 < c._2))
        .take(k)
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.toString)
  }

  test("merge of split buffers equals single-buffer result") {
    val p = Prop.forAll(Gen.listOf(Gen.zip(Gen.chooseNum(-10.0, 10.0), Gen.chooseNum(0L, 30L)))) {
      (xs: List[(Double, Long)]) =>
        val whole = new TopKBuffer(5)
        xs.foreach { case (s, id) => whole.offer(s, id, 0L) }
        val (l, r) = xs.splitAt(xs.size / 2)
        val bl = new TopKBuffer(5); l.foreach { case (s, id) => bl.offer(s, id, 0L) }
        val br = new TopKBuffer(5); r.foreach { case (s, id) => br.offer(s, id, 0L) }
        bl.mergeFrom(br)
        whole.sortedIdx.map(i => (whole.scores(i), whole.ids(i))).toList ==
          bl.sortedIdx.map(i => (bl.scores(i), bl.ids(i))).toList
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.toString)
  }

  /** 500 random rows over two grouping keys (g, h), scores from six
    * values (so most groups hold tied scores), ids unique per group,
    * plus groups of one and two rows (fewer than k = 3). */
  private def fixture() = {
    val session = spark
    import session.implicits._
    val rnd = new scala.util.Random(7)
    val random = (1 to 500).map(_ =>
      (rnd.nextInt(10).toLong, rnd.nextInt(2).toLong, rnd.nextInt(6).toDouble, rnd.nextInt(1000).toLong))
    val small = Seq((50L, 0L, 2.0, 9L), (51L, 1L, 4.0, 8L), (51L, 1L, 4.0, 3L))
    (random ++ small).groupBy(r => (r._1, r._2, r._4)).values.map(_.head).toSeq
      .toDF("g", "h", "score", "id")
  }

  private def ranked(df: org.apache.spark.sql.DataFrame) =
    TopKByScore.ranked(df, Seq("g", "h"), 3, col("score"), col("id"), col("id") * 2)

  private def unranked(df: org.apache.spark.sql.DataFrame) =
    TopKByScore.rows(df, Seq("g", "h"), 3, col("score"), col("id"), col("id") * 2)

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("SQL surface matches the row_number window formulation") {
    val df = fixture().cache()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g", "h").orderBy(col("score").desc, col("id").asc)
    val viaWindow = df.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
      .select(col("g"), col("h"), col("rk"), col("id"), col("score"), (col("id") * 2).as("extra"))
    val r = ranked(df)
    assert(r.columns.toSeq === Seq("g", "h", "rk", "id", "score", "extra"))
    assert(r.schema("rk").dataType === org.apache.spark.sql.types.IntegerType)
    val want = sortedRows(viaWindow)
    assert(sortedRows(r) === want)
    // the unranked form: the same rows without rk
    val u = unranked(df)
    assert(u.columns.toSeq === Seq("g", "h", "id", "score", "extra"))
    assert(sortedRows(u) === sortedRows(viaWindow.drop("rk")))
    // the fixture exercises ties at the cut and groups smaller than k
    assert(want.count(row => row(0) == 51L) === 2 && want.count(row => row(0) == 50L) === 1)
    val tiedAtCut = df.withColumn("rk", row_number().over(w)).where(col("rk").between(3, 4))
      .groupBy("g", "h").agg(count(lit(1)).as("n"), countDistinct("score").as("ns"))
      .where(col("n") === 2 && col("ns") === 1).count()
    assert(tiedAtCut > 0, "some group must tie on score across the k-th place")
    // the same input at 1 and at 8 partitions: identical rows, ties included
    val one = df.repartition(1)
    val eight = df.repartition(8)
    assert(eight.rdd.getNumPartitions === 8)
    assert(sortedRows(ranked(one)) === want)
    assert(sortedRows(ranked(eight)) === want)
    assert(sortedRows(unranked(one)) === sortedRows(unranked(eight)))
    df.unpersist()
  }
}
