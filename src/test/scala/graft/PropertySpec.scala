package graft

import graft.functions.VectorFunctions.{floatDot, floatNorm}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property tests (SURVEY.md §5.2 item 3): operator laws on
  * generated inputs, executed through real Spark plans. Case counts are
  * small (Spark-per-case is expensive); the generators cover the edge
  * shapes that matter — empty-ish groups, duplicate keys, negative
  * values, boundary gaps.
  */
class PropertySpec extends AnyFunSuite with SparkFixture {

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(15)

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(params, p)
    assert(res.passed, s"$name: $res")
  }

  test("float_dot equals the reference left-to-right double fold") {
    val session = spark
    import session.implicits._
    val genVec = Gen.listOfN(16, Gen.chooseNum(-10.0f, 10.0f))
    check("dot", Prop.forAll(genVec, genVec) { (a: List[Float], b: List[Float]) =>
      val df = Seq((a.toArray, b.toArray)).toDF("x", "y")
      val got = df.select(floatDot(col("x"), col("y"))).head.getDouble(0)
      val want = a.zip(b).foldLeft(0.0)((s, t) => s + t._1.toDouble * t._2.toDouble)
      got == want
    })
  }

  test("cosine from float_dot is within [-1, 1] (+fp slack) for nonzero vectors") {
    val session = spark
    import session.implicits._
    val genVec = Gen.listOfN(8, Gen.chooseNum(-5.0f, 5.0f))
      .suchThat(v => v.exists(x => math.abs(x) > 1e-3))
    check("cos", Prop.forAll(genVec, genVec) { (a: List[Float], b: List[Float]) =>
      val df = Seq((a.toArray, b.toArray)).toDF("x", "y")
      val cos = df.select(
        floatDot(col("x"), col("y")) / (floatNorm(col("x")) * floatNorm(col("y")))).head.getDouble(0)
      cos >= -1.0 - 1e-9 && cos <= 1.0 + 1e-9
    })
  }

  test("exact dedup is idempotent and keeps min doc_id per text") {
    val session = spark
    import session.implicits._
    val genDocs = Gen.listOfN(30, Gen.zip(Gen.chooseNum(0L, 1000L), Gen.oneOf("a", "b", "c", "d", "e")))
    check("dedup", Prop.forAll(genDocs) { (docs: List[(Long, String)]) =>
      val df = docs.toDF("doc_id", "text").dropDuplicates("doc_id")
      def dedup(d: org.apache.spark.sql.DataFrame) =
        d.groupBy("text").agg(min("doc_id").as("doc_id"))
          .select("doc_id", "text")
      val once = dedup(df).collect().map(_.toSeq).toSet
      val twice = dedup(dedup(df)).collect().map(_.toSeq).toSet
      once == twice && once.size == df.select("text").distinct().count()
    })
  }

  test("per-group top-k emits at most k rows per group including the group max") {
    val session = spark
    import session.implicits._
    val genRows = Gen.listOfN(40, Gen.zip(Gen.chooseNum(1, 4), Gen.chooseNum(-100, 100)))
    check("topk", Prop.forAll(genRows, Gen.chooseNum(1, 5)) { (rows: List[(Int, Int)], k: Int) =>
      val df = rows.zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }.toDF("g", "v", "id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("v").desc, col("id").asc)
      val top = df.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      val sizesOk = top.groupBy("g").count().where(col("count") > k).count() == 0
      val maxes = df.groupBy("g").agg(max("v").as("v")).collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      val topHasMax = top.where(col("rk") === 1).collect()
        .forall(r => maxes(r.getInt(0)) == r.getInt(1))
      sizesOk && topHasMax
    })
  }

  test("session count equals 1 + boundary gaps per user") {
    val session = spark
    import session.implicits._
    val genGaps = Gen.listOfN(12, Gen.chooseNum(1, 3600)) // seconds between events
    check("sessions", Prop.forAll(genGaps) { (gaps: List[Int]) =>
      val times = gaps.scanLeft(0L)((acc, g) => acc + g)
      val df = times.zipWithIndex
        .map { case (t, i) => (1L, i.toLong, new java.sql.Timestamp(1700000000000L + t * 1000)) }
        .toDF("user_id", "event_id", "ts")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      val sessions = df
        .withColumn("gap", unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        .withColumn("is_new", when(col("gap").isNull || col("gap") > 1800L * 1000000L, 1).otherwise(0))
        .agg(sum("is_new")).head.getLong(0)
      val expected = 1 + gaps.count(_ > 1800)
      sessions == expected
    })
  }

  test("anti-join result is disjoint from the exclusion set and preserves the rest") {
    val session = spark
    import session.implicits._
    val genIds = Gen.listOfN(25, Gen.chooseNum(0L, 50L))
    check("anti", Prop.forAll(genIds, genIds) { (left: List[Long], excl: List[Long]) =>
      val l = left.distinct.toDF("id")
      val e = excl.distinct.toDF("id")
      val kept = l.join(e, Seq("id"), "left_anti").collect().map(_.getLong(0)).toSet
      val exclSet = excl.toSet
      kept.intersect(exclSet).isEmpty &&
        kept == left.toSet.diff(exclSet)
    })
  }

  test("MMR closed form equals the sequential greedy for ANY pool under indicator similarity") {
    // the theorem behind q_mmr_rerank, checked on random pools (the
    // RecsysSpec test ties the Spark plan to one instance; this pins
    // the equivalence itself across shapes: ties, singleton brands,
    // one-brand pools, lambda extremes)
    val lamGen = Gen.oneOf(0.3, 0.5, 0.7, 0.9)
    val poolGen = Gen.chooseNum(1, 25).flatMap { n =>
      Gen.listOfN(n, for {
        rel <- Gen.chooseNum(0.0, 1.0)
        brand <- Gen.chooseNum(0, 4)
      } yield (rel, brand))
    }
    val params200 = SCTest.Parameters.default.withMinSuccessfulTests(200)
    val p = Prop.forAll(poolGen, lamGen) { (pool0: List[(Double, Int)], lam: Double) =>
      val pool = pool0.zipWithIndex.map { case ((r, b), id) => (id.toLong, r, b) }
      val k = math.min(10, pool.size)
      // closed form: brand leader by (rel desc, id asc); adj sort
      val leaders = pool.groupBy(_._3).values.flatMap { g =>
        val sorted = g.sortBy(x => (-x._2, x._1))
        sorted.zipWithIndex.map { case ((id, r, b), i) => id -> (i == 0) }
      }.toMap
      val closed = pool.map { case (id, r, b) =>
        (id, lam * r - (if (leaders(id)) 0.0 else 1 - lam))
      }.sortBy { case (id, adj) => (-adj, id) }.take(k).map(_._1)
      // literal greedy
      var remaining = pool
      val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
      val pb = scala.collection.mutable.Set.empty[Int]
      while (picked.length < k && remaining.nonEmpty) {
        val best = remaining.map { case (id, r, b) =>
          (id, lam * r - (if (pb.contains(b)) 1 - lam else 0.0), b)
        }.minBy { case (id, s, _) => (-s, id) }
        picked += best._1
        pb += pool.find(_._1 == best._1).get._3
        remaining = remaining.filterNot(_._1 == best._1)
      }
      closed == picked.toList
    }
    val res = SCTest.check(params200, p)
    assert(res.passed, s"mmr-equivalence: $res")
  }

  test("denseIndexOf equals the sorted index on random unique key sets") {
    // the r8 catalog indexer behind q_negative_sample: the coarse
    // two-level prefix must be row-for-row the 0-based sorted index,
    // including negative keys and adversarial domain spreads (all keys
    // in one coarse cell / one key per cell)
    val session = spark
    import session.implicits._
    val gen = for {
      n <- Gen.chooseNum(1, 80)
      keys <- Gen.containerOfN[Set, Long](n, Gen.chooseNum(-100000L, 100000L))
    } yield keys.toList
    val p = Prop.forAll(gen) { keys: List[Long] =>
      val df = keys.toDF("item_id")
      val got = operators.Relational.denseIndexOf(df, "item_id", "idx")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exp = keys.sorted.zipWithIndex.map { case (k, i) => k -> i.toLong }.toMap
      got == exp
    }
    check("dense-index-parity", p)
  }

  test("RankPrefix.before equals a sorted local prefix for every key and weight shape") {
    // the kernel behind every exact rank, quantile and running sum:
    // 0/1/2 key columns × 1/2 weights over mixed-sign values, a
    // single-value domain and longs near ±2^62 (distinct values share
    // a cell after the double cast), with a one-row group and null
    // values (dropped); 1 and 8 input partitions must give the same rows
    val session = spark
    import session.implicits._
    val far = 1L << 62
    val domains = Seq[(String, Gen[Long])](
      "mixed-sign" -> Gen.chooseNum(-50L, 50L),
      "single-value" -> Gen.const(7L),
      "near-2^62" -> Gen.oneOf(Gen.chooseNum(far - 40, far), Gen.chooseNum(-far - 40, -far)))
    def genRows(value: Gen[Long]): Gen[List[PrefixRow]] = for {
      n <- Gen.chooseNum(1, 40)
      rows <- Gen.listOfN(n, for {
        k1 <- Gen.chooseNum(0, 2); k2 <- Gen.oneOf("x", "y")
        v <- Gen.frequency(9 -> value.map(Option(_)), 1 -> Gen.const(Option.empty[Long]))
        w1 <- Gen.chooseNum(0L, 9L); w2 <- Gen.chooseNum(0L, 1000L)
      } yield PrefixRow(k1, k2, v, w1, w2))
      lone <- value
    } yield PrefixRow(9, "z", Some(lone), 3L, 4L) :: PrefixRow(0, "x", None, 5L, 5L) :: rows
    def holds(keys: Seq[String], ws: Seq[String])(all: List[PrefixRow]): Boolean = {
      def keyOf(r: PrefixRow): Seq[Any] = keys.map(Map[String, Any]("k1" -> r.k1, "k2" -> r.k2))
      def weight(r: PrefixRow, w: String): Long = if (w == "w1") r.w1 else r.w2
      // the precondition: one row per (keys, value)
      val rows = all.groupBy(r => (keyOf(r), r.v)).values.map(_.head).toSeq
      val exp = rows.filter(_.v.isDefined).groupBy(keyOf).values.flatMap { g =>
        val sorted = g.sortBy(_.v.get)
        sorted.indices.map(i => (keyOf(sorted(i)), sorted(i).v.get,
          ws.map(w => sorted.take(i).map(weight(_, w)).sum)))
      }.toSet
      Seq(1, 8).forall { parts =>
        val got = operators.RankPrefix.before(rows.toDF().repartition(parts), keys, "v", ws: _*)
          .collect().toSeq
          .map(r => (keys.map(r.getAs[Any](_)), r.getAs[Long]("v"),
            ws.map(w => r.getAs[Long](s"${w}_before"))))
        got.size == exp.size && got.toSet == exp
      }
    }
    val params3 = SCTest.Parameters.default.withMinSuccessfulTests(3)
    for ((name, value) <- domains; keys <- Seq(Nil, Seq("k1"), Seq("k1", "k2"));
         ws <- Seq(Seq("w1"), Seq("w1", "w2"))) {
      val res = SCTest.check(params3, Prop.forAll(genRows(value))(holds(keys, ws)))
      assert(res.passed, s"rank-prefix $name keys=$keys weights=$ws: $res")
    }
  }

  test("quartileScore equals Spark's own ntile on random tied multisets") {
    // the distributed exact-rank machinery behind q_rfm_segments and
    // q_quality_curriculum: coarse buckets + closed-form ntile must be
    // row-for-row identical to a real global ntile window, including
    // negative keys, heavy ties, and n % B boundary groups
    val session = spark
    import session.implicits._
    import org.apache.spark.sql.expressions.Window
    val gen = for {
      n <- Gen.chooseNum(1, 60)
      keys <- Gen.listOfN(n, Gen.chooseNum(-5L, 5L)) // heavy ties, negatives
      b <- Gen.chooseNum(2, 7)
    } yield (keys, b)
    val p = Prop.forAll(gen) { case (keys: List[Long], b: Int) =>
      val df = keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
        .toDF("key", "o_custkey")
      val got = operators.Relational.quartileScore(df, col("key"), "score",
          buckets = b)
        .select("o_custkey", "score").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val exp = df.withColumn("score",
          ntile(b).over(Window.orderBy(col("key").asc, col("o_custkey").asc)))
        .select("o_custkey", "score").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      got == exp
    }
    check("quartile-ntile-parity", p)
  }

  test("gini tie-group closed form equals the naive sorted-rank form on 200 random multisets") {
    // the algebra Stats.revenueGini distributes: a tie group of value v
    // spanning ranks lo..hi contributes v·(lo+hi)·cnt to 2S
    val params200 = SCTest.Parameters.default.withMinSuccessfulTests(200)
    val genVals = Gen.nonEmptyListOf(Gen.chooseNum(1L, 40L)) // heavy ties
    val p = Prop.forAll(genVals) { vs: List[Long] =>
      val sorted = vs.sorted
      val n = sorted.length.toLong
      val t = sorted.sum
      val naive2S = 2L * sorted.zipWithIndex.map { case (v, i) => (i + 1) * v }.sum
      val groups = sorted.groupBy(identity).toSeq.sortBy(_._1)
      var before = 0L
      var closed2S = 0L
      for ((v, g) <- groups) {
        val cnt = g.length.toLong
        val lo = before + 1; val hi = before + cnt
        closed2S += v * (lo + hi) * cnt
        before = hi
      }
      // top-decile boundary: closed-form split of the boundary tie group
      val n0 = (n - n / 10).toInt
      val naiveTop = sorted.drop(n0).sum
      var cum = 0L; var closedTop = -1L; before = 0L
      for ((v, g) <- groups if closedTop < 0) {
        val cnt = g.length.toLong
        val lo = before + 1; val hi = before + cnt
        if (n0 >= lo && n0 <= hi) closedTop = t - (cum + (n0 - lo + 1) * v)
        cum += v * cnt; before = hi
      }
      closed2S == naive2S && (n0 == 0 || closedTop == naiveTop)
    }
    val res = SCTest.check(params200, p)
    assert(res.passed, s"gini-closed-form: $res")
  }

  test("mann-whitney prefix-rank closed form equals naive average ranks on 200 random samples") {
    val params200 = SCTest.Parameters.default.withMinSuccessfulTests(200)
    val genPair = for {
      a <- Gen.nonEmptyListOf(Gen.chooseNum(0, 15))
      b <- Gen.nonEmptyListOf(Gen.chooseNum(0, 15))
    } yield (a.map(_.toDouble), b.map(_.toDouble))
    val p = Prop.forAll(genPair) { case (as: List[Double], bs: List[Double]) =>
      // naive: rank every observation, average within ties
      val all = (as.map((_, 'a')) ++ bs.map((_, 'b'))).sortBy(_._1)
      val avgRank = all.map(_._1).zipWithIndex.groupBy(_._1)
        .view.mapValues(g => g.map(_._2 + 1).sum.toDouble / g.size).toMap
      val naiveR1 = as.map(avgRank).sum
      // closed form: per-value group, before + (t+1)/2, weighted by na
      val groups = (as.map((_, 1, 0)) ++ bs.map((_, 0, 1)))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (v, g) => (v, g.map(_._2).sum.toLong, g.size.toLong) }
      var before = 0L
      var closedR1 = 0.0
      for ((_, na, t) <- groups) {
        closedR1 += na * (before + (t + 1.0) / 2.0)
        before += t
      }
      math.abs(closedR1 - naiveR1) < 1e-9
    }
    val res = SCTest.check(params200, p)
    assert(res.passed, s"mw-closed-form: $res")
  }
}

/** One generated histogram row of the RankPrefix property test. */
final case class PrefixRow(k1: Int, k2: String, v: Option[Long], w1: Long, w2: Long)
