package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RecsysSpec extends AnyFunSuite with SparkFixture {

  lazy val sim = operators.Recsys.itemcfSimilarity(spark, sfTest).cache()
  lazy val recs = operators.Recsys.itemcfRecommend(spark, sfTest).cache()

  test("itemcf similarity is symmetric and in (0, 1]") {
    val bad = sim.where(col("sim") <= 0.0 || col("sim") > 1.0).count()
    assert(bad === 0)
    // symmetry: sim(i,j) present for (j,i) must carry the same value
    val a = sim.select(col("item_i"), col("item_j"), col("sim").as("s1"))
    val b = sim.select(col("item_j").as("item_i"), col("item_i").as("item_j"), col("sim").as("s2"))
    val mismatched = a.join(b, Seq("item_i", "item_j")).where(col("s1") =!= col("s2")).count()
    assert(mismatched === 0)
  }

  test("itemcf neighbor lists are at most TopK with dense ranks from 1") {
    val sizes = sim.groupBy("item_i")
      .agg(count(lit(1)).as("n"), min("rk").as("minrk"), max("rk").as("maxrk"))
    assert(sizes.where(col("n") > operators.Recsys.TopK).count() === 0)
    assert(sizes.where(col("minrk") =!= 1 || col("maxrk") =!= col("n")).count() === 0)
  }

  test("recommendations never contain already-seen items and are at most TopN") {
    val hist = Tables.interactions(spark, sfTest)
      .select(col("user_id"), col("item_id"))
    val leaked = recs.join(hist, Seq("user_id", "item_id")).count()
    assert(leaked === 0)
    val over = recs.groupBy("user_id").agg(count(lit(1)).as("n"))
      .where(col("n") > operators.Recsys.TopN).count()
    assert(over === 0)
  }

  test("usercf similarity is symmetric in value") {
    val us = operators.Recsys.usercfSimilarity(spark, sfTest)
    val a = us.select(col("user_u"), col("user_v"), col("sim").as("s1"))
    val b = us.select(col("user_v").as("user_u"), col("user_u").as("user_v"), col("sim").as("s2"))
    assert(a.join(b, Seq("user_u", "user_v")).where(col("s1") =!= col("s2")).count() === 0)
  }

  test("swing scores are positive and bounded by pair count / (alpha+1)") {
    val sw = operators.Recsys.swingSimilarity(spark, sfTest)
    assert(sw.where(col("swing") <= 0.0).count() === 0)
    // each user pair contributes at most 1/(alpha+1): overlap >= 1 for co-raters
    assert(sw.where(col("swing") > col("n_user_pairs") / (operators.Recsys.SwingAlpha + 1.0) + 1e-9).count() === 0)
  }

  test("time-decayed itemcf: cosine in (0,1], bounded neighbor lists") {
    val rows = operators.Recsys.itemcfDecay(spark, sfTest).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sim = r.getAs[Double]("sim")
      assert(sim > 0.0 && sim <= 1.0 + 1e-9, s"decayed cosine out of range: $sim")
      assert(r.getAs[Int]("rk") <= operators.Recsys.TopK)
      assert(r.getAs[Long]("co") >= 1L)
    }
  }

  test("markov transitions: probabilities per item are valid and ranked") {
    val rows = operators.Recsys.markovNext(spark, sfTest).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("item_id")).foreach { case (_, rs) =>
      val probs = rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("prob"))
      assert(probs.forall(p => p > 0.0 && p <= 1.0))
      assert(probs.sum <= 1.0 + 1e-6, "top-N transition probs cannot exceed 1")
      assert(probs.zip(probs.tail).forall { case (a, b) => a >= b }, "ranked by prob desc")
      assert(rs.length <= operators.Recsys.MarkovTop)
    }
  }

  test("diversity metrics: entropy within [0, ln(TopN)], consistent books") {
    val m = operators.Recsys.recDiversity(spark, sfTest).collect()(0)
    val avgE = m.getAs[Double]("avg_entropy")
    val maxE = m.getAs[Double]("max_entropy")
    assert(avgE >= 0.0 && avgE <= maxE + 1e-9)
    // metric is rounded to 6 dp, so allow half-ulp-of-rounding slack
    assert(maxE <= math.log(operators.Recsys.TopN.toDouble) + 5e-7)
    assert(m.getAs[Long]("n_single_brand_users") <= m.getAs[Long]("n_users"))
    assert(m.getAs[Double]("avg_brands") >= 1.0)
  }

  test("ranking metrics: NDCG and MRR are valid, hits bounded by users") {
    val m = operators.Recsys.evalRanking(spark, sfTest).collect()(0)
    val ndcg = m.getAs[Double]("avg_ndcg")
    val mrr = m.getAs[Double]("avg_mrr")
    val users = m.getAs[Long]("n_test_users")
    val withHit = m.getAs[Long]("n_users_with_hit")
    assert(ndcg >= 0.0 && ndcg <= 1.0)
    assert(mrr >= 0.0 && mrr <= 1.0)
    assert(withHit >= 0L && withHit <= users)
    // MRR > 0 iff someone hit
    assert((mrr > 0.0) === (withHit > 0L))
  }

  test("slope one: bounded ranked lists, no seen items, finite scores") {
    val so = operators.Recsys.slopeOne(spark, sfTest).cache()
    val perUser = so.groupBy("user_id").agg(count(lit(1)).as("n"), max("rk").as("mx"))
    assert(perUser.where(col("n") > operators.Recsys.TopN).count() === 0)
    assert(perUser.where(col("mx") =!= col("n")).count() === 0) // dense ranks from 1
    val hist = Tables.interactions(spark, sfTest).select("user_id", "item_id")
    assert(so.join(hist, Seq("user_id", "item_id")).count() === 0)
    assert(so.where(col("score").isNull || isnan(col("score"))).count() === 0)
  }

  test("seq buy pairs: confidence valid, ordered support bounded by item support") {
    val r = operators.Recsys.seqBuyPairs(spark, sfTest).collect()
    assert(r.nonEmpty && r.length <= operators.Recsys.SeqTop)
    r.foreach { row =>
      val (nab, na, conf) = (row.getAs[Long]("n_ab"), row.getAs[Long]("n_a"),
        row.getAs[Double]("confidence"))
      assert(nab >= operators.Recsys.SeqMinSup && nab <= na)
      assert(conf > 0.0 && conf <= 1.0)
      assert(row.getAs[Long]("item_a") !== row.getAs[Long]("item_b"))
    }
  }

  test("trending items: momentum positive, floors respected, ranks dense") {
    val r = operators.Recsys.trendingItems(spark, sfTest).collect()
    assert(r.nonEmpty && r.length <= operators.Recsys.TrendTop)
    r.zipWithIndex.foreach { case (row, i) =>
      assert(row.getAs[Int]("rk") === i + 1)
      assert(row.getAs[Long]("n_recent") >= operators.Recsys.TrendMinRecent)
      assert(row.getAs[Double]("momentum") > 0.0)
    }
  }

  test("eval metrics are valid probabilities") {
    val m = operators.Recsys.evalPopularity(spark, sfTest).collect()(0)
    val p = m.getAs[Double]("precision_at_k")
    val r = m.getAs[Double]("recall_at_k")
    assert(p >= 0.0 && p <= 1.0)
    assert(r >= 0.0 && r <= 1.0)
    assert(m.getAs[Long]("n_test_users") > 0)
  }

  test("IPS eval debiases in the right direction for a popularity recommender") {
    val m = operators.Recsys.evalIps(spark, sfTest).collect()(0)
    val raw = m.getAs[Double]("recall_at_k")
    val ips = m.getAs[Double]("ips_recall_at_k")
    assert(raw >= 0.0 && raw <= 1.0 && ips >= 0.0 && ips <= 1.0)
    // a popularity recommender's hits concentrate on high-propensity
    // items, so stripping the propensity credit MUST lower recall
    assert(ips < raw, s"IPS recall $ips should sit below raw $raw for a popularity recommender")
    assert(m.getAs[Long]("n_test") > 0 && m.getAs[Long]("n_cold") >= 0)
  }

  test("doubly-robust off-policy eval matches an exact local replay") {
    import org.apache.spark.sql.functions._
    def h32(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val base = Tables.lineitem(spark, sfTest)
      .join(Tables.orders(spark, sfTest), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfTest), col("o_custkey") === col("c_custkey"))
      .join(Tables.part(spark, sfTest), col("l_partkey") === col("p_partkey"))
      .select(col("o_orderkey"), col("c_mktsegment"), col("p_brand"),
        expr("cast(round(l_extendedprice * 100) AS bigint)").as("cents"))
      .collect().map(r => (h32(s"${r.getLong(0)}-dr") % 2,
        r.getString(1), r.getString(2), r.getLong(3)))
    val cal = base.filter(_._1 == 0L)
    val ev = base.filter(_._1 == 1L)
    val calCells = cal.groupBy(r => (r._2, r._3)).map { case ((s, b), xs) =>
      (s, b, xs.length.toLong, xs.map(_._4).sum) }
    val mhat = calCells.map { case (s, b, n, sm) =>
      ((s, b), math.round(sm.toDouble / n)) }.toMap
    val nX = calCells.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._3).sum }
    // target policy: calibration-best brand per segment, brand-ASC ties
    val pi = calCells.groupBy(_._1).map { case (s, xs) =>
      val best = xs.map { case (_, b, n, _) => (b, mhat((s, b)), n) }
        .minBy { case (b, m, _) => (-m, b) }
      s -> best }
    val evRows = ev.groupBy(_._2)
    val segs = pi.keySet.intersect(evRows.keySet).toSeq.sorted
    var nCal = 0L; var nEval = 0L; var nMatch = 0L
    var dmU = 0L; var ipsNum = 0.0; var wSum = 0.0; var drCorr = 0.0
    segs.foreach { s =>
      val (pb, mPi, nPi) = pi(s)
      val rows = evRows(s)
      val m = rows.filter(_._3 == pb)
      val neM = m.length.toLong; val seM = m.map(_._4).sum
      nCal += nX(s); nEval += rows.length; nMatch += neM
      dmU += rows.length * mPi
      ipsNum += seM.toDouble * nX(s) / nPi
      wSum += neM.toDouble * nX(s) / nPi
      drCorr += (seM - neM * mPi).toDouble * nX(s) / nPi
    }
    val got = operators.Recsys.evalDr(spark, sfTest).collect().head
    assert(got.getAs[Long]("n_cal") === nCal)
    assert(got.getAs[Long]("n_eval") === nEval)
    assert(got.getAs[Long]("n_match") === nMatch)
    def close(a: Double, b: Double) = math.abs(a - b) <= 1.5e-4
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    assert(close(got.getAs[Double]("v_dm_cents"), r4(dmU.toDouble / nEval)))
    assert(close(got.getAs[Double]("v_ips_cents"), r4(ipsNum / nEval)))
    assert(close(got.getAs[Double]("v_snips_cents"), r4(ipsNum / wSum)))
    assert(close(got.getAs[Double]("v_dr_cents"), r4((dmU + drCorr) / nEval)))
    // the double-robustness sanity: all four estimates live on the
    // same scale as the raw eval mean reward
    val rawMean = ev.map(_._4).sum.toDouble / ev.length
    Seq("v_dm_cents", "v_ips_cents", "v_dr_cents").foreach { c =>
      val v = got.getAs[Double](c)
      assert(v > 0 && v < rawMean * 3, s"$c = $v implausible vs raw mean $rawMean")
    }
  }

  test("rec coverage: bounds hold and Gini matches a direct computation") {
    import org.apache.spark.sql.functions._
    val r = operators.Recsys.recCoverage(spark, sfTest).collect().head
    val (nCat, nRec) = (r.getAs[Long]("n_catalog"), r.getAs[Long]("n_recommended"))
    assert(nRec <= nCat && nRec > 0)
    assert(r.getAs[Double]("coverage") > 0 && r.getAs[Double]("coverage") <= 1.0)
    val gini = r.getAs[Double]("gini")
    assert(gini >= 0.0 && gini < 1.0)
    // direct Gini from the exposure multiset (zeros for unrecommended)
    val expo = operators.Recsys.itemcfRecommend(spark, sfTest)
      .groupBy("item_id").count().collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val xs = Tables.part(spark, sfTest).select("p_partkey").collect()
      .map(row => expo.getOrElse(row.getLong(0), 0L)).sorted
    val n = xs.length.toLong
    val tot = xs.sum.toDouble
    val sumIx = xs.zipWithIndex.map { case (x, i) => (i + 1).toLong * x }.sum
    val direct = 2.0 * sumIx / (n * tot) - (n + 1).toDouble / n
    assert(math.abs(gini - direct) < 1e-5, s"gini $gini vs direct $direct")
    assert(r.getAs[Double]("top_share") >= 1.0 / nRec)
  }

  test("eval novelty: bounded by corpus self-information, ranks all present") {
    import org.apache.spark.sql.functions._
    val rows = operators.Recsys.evalNovelty(spark, sfTest).collect()
    assert(rows.nonEmpty)
    val nUsers = Tables.interactions(spark, sfTest).select("user_id").distinct().count()
    val maxNov = math.log(nUsers.toDouble) / math.log(2.0) // item with a single user
    rows.foreach { r =>
      val (avg, mn, mx) = (r.getAs[Double]("avg_novelty"),
        r.getAs[Double]("min_novelty"), r.getAs[Double]("max_novelty"))
      assert(mn >= -1e-9 && mx <= maxNov + 1e-6, s"novelty [$mn,$mx] out of [0, $maxNov]")
      assert(mn <= avg && avg <= mx)
    }
    // every emitted rank has a full user population of recs
    assert(rows.map(_.getAs[Int]("rk")).toSeq == (1 to rows.length))
  }

  test("itemcf explain: because-item comes from the user's history and dominates the score") {
    import org.apache.spark.sql.functions._
    val rows = operators.Recsys.itemcfExplain(spark, sfTest).collect()
    assert(rows.nonEmpty)
    // capped history is a subset of the raw interactions
    val hist = Tables.interactions(spark, sfTest)
      .select("user_id", "item_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recs = operators.Recsys.itemcfRecommend(spark, sfTest)
      .where(col("rk") <= operators.Recsys.ExplainRk).collect()
      .map(r => ((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getDouble(3)))).toMap
    rows.foreach { r =>
      val (u, rk) = (r.getLong(0), r.getInt(1))
      // the explanation seed is something the user actually interacted with
      assert(hist.contains((u, r.getLong(3))),
        s"because_item ${r.getLong(3)} not in user $u's history")
      // every explained rec IS a rec, with its score
      val (recItem, score) = recs((u, rk))
      assert(r.getLong(2) == recItem)
      // the top term is positive and no bigger than the whole sum
      val c = r.getDouble(4)
      assert(c > 0 && c <= score + 1e-9)
      val share = r.getDouble(5)
      assert(share > 0 && share <= 1.0 + 1e-9)
    }
  }

  test("mmr rerank: closed form equals the literal sequential greedy MMR loop") {
    import org.apache.spark.sql.functions._
    val lam = operators.Recsys.MmrLambda
    // candidate pool exactly as the query builds it
    val cand = Tables.lineitem(spark, sfTest)
      .groupBy(col("l_partkey").as("item_id"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("item_id").asc)
      .limit(operators.Recsys.MmrCandidates)
      .join(Tables.part(spark, sfTest).select(col("p_partkey"), col("p_brand")),
        col("item_id") === col("p_partkey"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(3)))
    val maxRev = cand.map(_._2).max
    // literal greedy: argmax lambda*rel - (1-lambda)*maxSim(selected),
    // sim = 1 iff same brand, ties broken by item id
    var remaining = cand.map { case (id, rev, b) => (id, rev / maxRev, b) }.toVector
    val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
    val pickedBrands = scala.collection.mutable.Set.empty[String]
    while (picked.length < operators.Recsys.MmrTopN && remaining.nonEmpty) {
      val best = remaining.map { case (id, rel, b) =>
        val sim = if (pickedBrands.contains(b)) 1.0 else 0.0
        (id, lam * rel - (1 - lam) * sim, b)
      }.minBy { case (id, s, _) => (-s, id) }
      picked += best._1
      pickedBrands += best._3
      remaining = remaining.filterNot(_._1 == best._1)
    }
    val got = operators.Recsys.mmrRerank(spark, sfTest).collect()
      .sortBy(_.getAs[Int]("mmr_rank")).map(_.getAs[Long]("item_id")).toSeq
    assert(got == picked.toSeq, s"closed form $got vs greedy ${picked.toSeq}")
    // diversification actually engages: picked brands are more distinct
    // than the raw relevance head's brands
    val rawHead = cand.sortBy { case (id, rev, _) => (-rev, id) }
      .take(operators.Recsys.MmrTopN).map(_._3)
    val gotBrands = operators.Recsys.mmrRerank(spark, sfTest).collect().map(_.getAs[String]("brand"))
    assert(gotBrands.distinct.length >= rawHead.distinct.length)
  }

  test("cold start: books reconcile, cold tail ~ the quantile, CF under-exposes it") {
    val R = operators.Recsys
    val r = R.coldStart(spark, sfTest).head
    val nCat = r.getAs[Long]("n_catalog")
    val nCold = r.getAs[Long]("n_cold")
    assert(nCat == Tables.part(spark, sfTest).count())
    assert(nCold > 0 && nCold < nCat)
    // quantile threshold with ties: at least the quantile mass, not wildly more
    val share = r.getAs[Double]("cold_share")
    assert(share >= R.ColdQuantile - 1e-9 && share <= R.ColdQuantile + 0.25,
      s"cold share $share should sit at/above the ${R.ColdQuantile} quantile (ties only)")
    assert(r.getAs[Long]("recs_to_cold") <= r.getAs[Long]("n_recs"))
    val lift = r.getAs[Double]("exposure_lift")
    assert(lift >= 0)
    assert(lift < 1.0 + 1e-9,
      s"CF must not OVER-expose the low-history tail on the fixture (lift=$lift)")
  }

  test("serendipity: co-visitation recs, unexpectedness and usefulness match a local replay") {
    val R = operators.Recsys
    val ui = Tables.orders(spark, sfTest)
      .join(Tables.lineitem(spark, sfTest),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      .select("o_custkey", "l_partkey", "o_orderdate").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.get(2).toString))
    val train = ui.filter(_._3 < R.SplitDate).map(r => (r._1, r._2)).distinct
    val test = ui.filter(_._3 >= R.SplitDate).map(r => (r._1, r._2)).toSet
    val capped = train.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      rows.map(_._2).distinct.sorted.take(R.MaxHistory).map(u -> _)
    }
    val hist = capped.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val co = scala.collection.mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    for ((_, items) <- hist; Seq(a, b) <- items.toSeq.sorted.combinations(2))
      co((a, b)) += 1
    val coF = co.filter(_._2 >= R.SerCoMin)
    // per-item top-M neighbor cap, (co desc, cand asc)
    val nbrs = coF.toSeq.flatMap { case ((a, b), c) => Seq((a, b, c), (b, a, c)) }
      .groupBy(_._1).view.mapValues(_.sortBy(x => (-x._3, x._2)).take(R.SerTopM)).toMap
    val pop = train.groupBy(_._2).view.mapValues(_.map(_._1).distinct.size).toSeq
      .sortBy { case (i, p) => (-p, i) }.take(R.EvalK).map(_._1).toSet
    var totSer = 0L; var nUsers = 0L
    var sumUnexp = 0.0; var sumPrec = 0.0; var sumSer = 0.0
    for ((u, items) <- hist) {
      val scores = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for (i <- items; (_, cand, c) <- nbrs.getOrElse(i, Seq.empty) if !items(cand))
        scores(cand) += c
      val recs = scores.toSeq.sortBy { case (c, s0) => (-s0, c) }.take(R.EvalK).map(_._1)
      if (recs.nonEmpty) {
        nUsers += 1
        val unexp = recs.count(c => !pop(c))
        val useful = recs.count(c => test((u, c)))
        val ser = recs.count(c => !pop(c) && test((u, c)))
        totSer += ser
        sumUnexp += unexp.toDouble / recs.length
        sumPrec += useful.toDouble / R.EvalK
        sumSer += ser.toDouble / R.EvalK
      }
    }
    val r = R.serendipity(spark, sfTest).head
    assert(r.getAs[Long]("n_eval_users") == nUsers)
    assert(math.abs(r.getAs[Double]("unexpected_share") - sumUnexp / nUsers) < 1e-5)
    assert(math.abs(r.getAs[Double]("precision_at_k") - sumPrec / nUsers) < 1e-5)
    assert(math.abs(r.getAs[Double]("serendipity_at_k") - sumSer / nUsers) < 1e-5)
    assert(r.getAs[Long]("total_serendipitous") == totSer)
    // definitional bound: serendipity can never exceed precision
    assert(r.getAs[Double]("serendipity_at_k") <= r.getAs[Double]("precision_at_k") + 1e-12)
  }

  test("rec calibration: C_KL head matches a local replay; divergence is non-negative") {
    val R = operators.Recsys
    val brand = Tables.part(spark, sfTest)
      .select("p_partkey", "p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val hist = R.cappedInteractions(spark, sfTest)
      .select("user_id", "item_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val recsL = recs.select("user_id", "item_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val hBy = hist.groupBy(_._1)
    val rBy = recsL.groupBy(_._1)
    val ckls = hBy.collect { case (u, hs) if rBy.contains(u) =>
      val hb = hs.map(h => brand(h._2)).groupBy(identity).map { case (b, v) => b -> v.size }
      val rb = rBy(u).map(h => brand(h._2)).groupBy(identity).map { case (b, v) => b -> v.size }
      val ht = hs.length.toDouble; val rt = rBy(u).length.toDouble
      val ckl = hb.map { case (b, hc) =>
        val p = hc / ht
        val q = rb.getOrElse(b, 0) / rt
        p * math.log(p / (0.99 * q + 0.01 * p))
      }.sum
      (u, hb.size.toLong, math.rint(ckl * 1e6) / 1e6)
    }.toSeq
    val expected = ckls.sortBy { case (u, _, c) => (-c, u) }.take(R.CalibTop)
    val got = R.recCalibration(spark, sfTest).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_hist_brands"),
                 r.getAs[Double]("ckl")))
    assert(got.length === expected.length)
    got.zip(expected).foreach { case (g, x) =>
      assert(g._1 == x._1 && g._2 == x._2, s"head order: $g vs $x")
      assert(math.abs(g._3 - x._3) < 1e-6)
    }
    // smoothed KL against a target mixed toward p is always >= 0 up to
    // the alpha perturbation
    assert(got.forall(_._3 > -1e-6))
  }

  test("itemcf drift: identity case is exact, cross-model bounds hold") {
    import operators.Recsys
    val sim = operators.Recsys.itemcfSimilarity(spark, sfTest).select("item_i", "rk", "item_j")
    // a model drifted against ITSELF: every neighbor set overlaps
    // fully and no top-1 changes — the identity the audit must honor
    val self = operators.Recsys.itemcfDriftFrom(sim, sim).collect()
    assert(self.length === 1)
    val s = self.head
    assert(s.getAs[Long]("n_items_fresh") === s.getAs[Long]("n_items_both"))
    assert(s.getAs[Long]("overlap_bp") === 10000L)
    assert(s.getAs[Long]("n_top1_changed") === 0L)
    assert(s.getAs[Long]("n_common_pairs") > 0L)

    // the registered cross-model audit: structural bounds
    val d = operators.Recsys.itemcfDrift(spark, sfTest).collect().head
    val (nf, nz, nb) = (d.getAs[Long]("n_items_fresh"),
      d.getAs[Long]("n_items_frozen"), d.getAs[Long]("n_items_both"))
    assert(nb <= math.min(nf, nz) && nb > 0)
    assert(d.getAs[Long]("n_common_pairs") <= nb * operators.Recsys.TopK)
    assert(d.getAs[Long]("overlap_bp") <= 10000L)
    assert(d.getAs[Long]("n_top1_changed") <= nb)
    // the fixture split genuinely reshapes the model (not a no-op twin)
    assert(d.getAs[Long]("overlap_bp") < 10000L)
  }

  test("itemcf refresh algebra: a delta crossing the MaxHistory cap matches the rebuild") {
    // The subtle refresh case: the cap is a per-user top-MaxHistory cut
    // by (strength desc, item asc), so a post-split boost can PUSH an
    // item into the capped set and EVICT another — pair and count
    // deltas must then remove the evicted item's memberships, not just
    // add the newcomer's. Planted: user 1 holds MaxHistory+1 items;
    // the delta boosts the one uncapped item past the weakest capped
    // one. Plus a brand-new user (no pre-split history) and an
    // untouched control user.
    import spark.implicits._
    val m = operators.Recsys.MaxHistory // 100
    val old1 = (1 to m + 1).map(i => (1L, i.toLong, (1100 - i).toDouble))
    val old2 = Seq((2L, 5L, 10.0), (2L, 6L, 8.0))
    val oldStrengths = (old1 ++ old2).toDF("user_id", "item_id", "strength")
    val post = Seq(
      (1L, (m + 1).toLong, 200.0), // 999 + 200 = 1199: evicts item m (strength 1100-m)
      (3L, 7L, 5.0), (3L, 8L, 4.0) // new user, never seen pre-split
    ).toDF("user_id", "item_id", "strength")
    def statsOf(strengths: org.apache.spark.sql.DataFrame) = {
      val capped = operators.Recsys.capHistories(strengths).select("user_id", "item_id")
      (operators.Recsys.pairsWithin(capped, "user_id", "item_id")
         .groupBy("pk").agg(count(lit(1)).as("co")),
       capped.groupBy("item_id").agg(count(lit(1)).as("n_users")))
    }
    val (oldPairs, oldCounts) = statsOf(oldStrengths)
    val got = operators.Recsys.refreshFrom(oldStrengths, oldPairs, oldCounts, post)
      .collect()
    // the rebuild arm: the same model computed from the FULL merged
    // strengths from scratch
    val fullStrengths = oldStrengths.unionByName(post)
      .groupBy("user_id", "item_id").agg(sum("strength").as("strength"))
    val (fullPairs, fullCounts) = statsOf(fullStrengths)
    val want = operators.Recsys.knnFromPairCounts(
      operators.Recsys.unpack(fullPairs, "item_i", "item_j"), fullCounts).collect()
    assert(got.nonEmpty && got.length === want.length)
    got.zip(want).foreach { case (a, b) =>
      assert(a === b, "refresh diverges from rebuild on the cap-crossing fixture")
    }
    // the eviction really happened: item m left user 1's capped set,
    // and nobody else holds it, so it is GONE from the model; the
    // boosted item m+1 is in; the new user's items appear
    val items = got.map(_.getAs[Long]("item_i")).toSet
    assert(!items.contains(m.toLong), s"evicted item $m must leave the model")
    assert(items.contains((m + 1).toLong), "boosted item must enter the model")
    assert(items.contains(7L) && items.contains(8L), "new user's items must enter")
    // Negative-id contract: the merge keys count deltas as -(item_id)-1,
    // so a negative id would alias into the pair key space. A changed
    // single-item user holding item -1 must fail on pair_pack's range
    // check, never merge.
    val negative = Seq((4L, -1L, 3.0)).toDF("user_id", "item_id", "strength")
    val e = intercept[Exception] {
      operators.Recsys.refreshFrom(oldStrengths, oldPairs, oldCounts, negative).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage))
    assert(messages.exists(_.contains("outside [0, 2^32)")), e.toString)
  }
}
