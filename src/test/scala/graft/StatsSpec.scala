package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite with SparkFixture {

  test("every stats query runs non-empty on sf0.001") {
    operators.Stats.queries.foreach { case (name, fn) =>
      assert(fn(spark, sfTest).count() > 0, s"$name returned 0 rows")
    }
  }

  test("pareto front: survivors are mutually non-dominated and every dropped point is dominated") {
    val pts = Tables.part(spark, sfTest)
      .groupBy(col("p_retailprice").as("price"), col("p_size").as("size"))
      .agg(count(lit(1)).as("n_parts"))
      .collect()
      .map(r => (r.getDouble(0), r.getInt(1), r.getLong(2)))
    val sky = operators.Stats.paretoFront(spark, sfTest).collect()
      .map(r => (r.getDouble(0), r.getInt(1), r.getLong(2))).toSet
    def dominates(a: (Double, Int, Long), b: (Double, Int, Long)): Boolean =
      a._1 <= b._1 && a._2 >= b._2 && (a._1 < b._1 || a._2 > b._2)
    // no survivor dominated by any point
    for (s <- sky; p <- pts) assert(!dominates(p, s), s"$p dominates survivor $s")
    // every dropped point dominated by some survivor
    for (p <- pts if !sky.contains(p))
      assert(sky.exists(s => dominates(s, p)), s"dropped $p has no dominator")
    // counts carried through intact
    for (s <- sky) assert(pts.contains(s))
  }

  test("equi-depth histogram: ntile sizes, ordered non-overlapping buckets, exact total") {
    val n = Tables.lineitem(spark, sfTest).count()
    val b = operators.Stats.HistBuckets
    val rows = operators.Stats.equidepthHist(spark, sfTest).collect()
    assert(rows.map(_.getAs[Long]("bucket")).toSeq == (1L to b))
    val sizes = rows.map(_.getAs[Long]("n_rows"))
    assert(sizes.sum == n)
    // SQL ntile: first n%B buckets take the extra row
    val (q, rem) = (n / b, (n % b).toInt)
    assert(sizes.toSeq == (1 to b).map(i => if (i <= rem) q + 1 else q))
    // depth boundaries are value-ordered: bucket i's max <= bucket i+1's min
    val mins = rows.map(_.getAs[Double]("min_v"))
    val maxs = rows.map(_.getAs[Double]("max_v"))
    for (i <- 0 until b - 1) assert(maxs(i) <= mins(i + 1))
    for (i <- 0 until b) assert(mins(i) <= maxs(i))
  }

  test("equi-depth bucket of every value agrees with a literal global sort") {
    import spark.implicits._
    // small literal frame with heavy ties straddling bucket boundaries
    val vals = Seq(1.0, 1.0, 1.0, 2.0, 2.0, 3.0, 3.0, 3.0, 3.0, 4.0, 5.0)
    val df = vals.toDF("l_extendedprice")
      .withColumn("l_orderkey", monotonically_increasing_id())
    df.createOrReplaceTempView("li_tmp")
    // expected from Spark's own ntile over a global sort
    val expected = spark.sql(
      s"""SELECT bucket, count(*) AS n_rows, min(v) AS min_v, max(v) AS max_v
         |FROM (SELECT l_extendedprice AS v,
         |        ntile(${operators.Stats.HistBuckets}) OVER (ORDER BY l_extendedprice) AS bucket
         |      FROM li_tmp)
         |GROUP BY bucket ORDER BY bucket""".stripMargin).collect()
    // the operator's closed-form math on the same data, via a temp dir
    val dir = java.nio.file.Files.createTempDirectory("statspec").toString
    df.select("l_extendedprice", "l_orderkey").write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    val got = operators.Stats.equidepthHist(spark, dir).collect()
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) =>
      assert(g.getAs[Long]("bucket") == e.getAs[Int]("bucket").toLong)
      assert(g.getAs[Long]("n_rows") == e.getAs[Long]("n_rows"))
      assert(g.getAs[Double]("min_v") == e.getAs[Double]("min_v"))
      assert(g.getAs[Double]("max_v") == e.getAs[Double]("max_v"))
    }
  }

  test("dp counts: noise is finite, deterministic, and mean-centered") {
    val r1 = operators.Stats.dpCounts(spark, sfTest).collect()
    val r2 = operators.Stats.dpCounts(spark, sfTest).collect()
    assert(r1.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq, "DP release must be replayable")
    val errs = r1.map(r => r.getAs[Double]("noisy_n") - r.getAs[Long]("n_events"))
    assert(errs.forall(e => !e.isNaN && !e.isInfinite))
    // Laplace(1) abs error: median ~ln(2); sanity-bound the spread
    assert(errs.map(math.abs).max < 25.0)
    assert(math.abs(errs.sum / errs.length) < 2.0)
  }

  test("sliding DAU matches the naive range-join on sf0.001") {
    import spark.implicits._
    val ud = Tables.events(spark, sfTest)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    ud.createOrReplaceTempView("ud_tmp")
    val naive = spark.sql(
      s"""SELECT w.day, count(DISTINCT u.user_id) AS users_7d
         |FROM (SELECT DISTINCT d AS day FROM ud_tmp) w
         |JOIN ud_tmp u ON u.d BETWEEN date_sub(w.day, ${operators.Stats.DauWindowDays - 1}) AND w.day
         |GROUP BY w.day ORDER BY w.day""".stripMargin)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    val got = operators.Stats.slidingDau(spark, sfTest).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    // explode version also emits trailing days with no same-day events;
    // on every day both computed, the counts agree
    naive.foreach { case (day, n) =>
      assert(got.contains(day) && got(day) == n, s"mismatch on $day")
    }
  }

  test("skyline scale: 300k synthetic points match a local sweep; pruning bounds phase 2") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // deterministic pseudo-random points: price from a hash, size in 1..40
    // => the true skyline has at most 40 points (one per size level)
    val n = 300000
    val pts = spark.range(n.toLong)
      .withColumn("h", expr("cast(conv(substring(md5(cast(id AS string)), 1, 8), 16, 10) AS bigint)"))
      .select((col("h") % 1000000 / 100.0).as("p_retailprice"),
              (col("h") % 41 + 1).cast("int").as("p_size"))
    val dir = java.nio.file.Files.createTempDirectory("skyscale").toString
    pts.write.mode("overwrite").parquet(s"$dir/part.parquet")
    val t0 = System.nanoTime()
    val got = operators.Stats.paretoFront(spark, dir).collect()
      .map(r => (r.getDouble(0), r.getInt(1))).toSet
    val secs = (System.nanoTime() - t0) / 1e9
    // local reference: sweep distinct points by (price asc, size desc)
    val distinctPts = pts.distinct().collect()
      .map(r => (r.getDouble(0), r.getInt(1)))
    val sorted = distinctPts.sortBy { case (p, sz) => (p, -sz) }
    var best = Int.MinValue
    val ref = scala.collection.mutable.Set.empty[(Double, Int)]
    sorted.foreach { case (p, sz) => if (sz > best) { ref += ((p, sz)); best = sz } }
    assert(got == ref.toSet, s"skyline mismatch: got ${got.size}, ref ${ref.size}")
    assert(got.size <= 41, "skyline bounded by the size-level count")
    assert(secs < 30.0, f"two-phase skyline took $secs%.1f s on 300k points")
  }

  test("rolling median: full-window rows equal a local exact median of the trailing frame") {
    // (type -> day-ordered (day, v) series), recomputed locally
    val daily = Tables.events(spark, sfTest)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(round(sum("value"), 4).as("v"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._2, t._3)).toVector).toMap
    def localMedian(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      val m = if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
      math.rint(m * 1e4) / 1e4
    }
    val got = operators.Stats.rollingMedian(spark, sfTest).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (et, day) = (r.getString(0), r.getDate(1).toString)
      val series = daily(et)
      val i = series.indexWhere(_._1 == day)
      assert(i >= 0, s"day $day missing from local series for $et")
      val frame = series.slice(math.max(0, i - operators.Stats.MedianWindow + 1), i + 1).map(_._2)
      assert(r.getLong(4) == frame.length, s"n_win mismatch at $et/$day")
      assert(math.abs(r.getDouble(3) - localMedian(frame)) < 1e-9,
        s"median mismatch at $et/$day: got ${r.getDouble(3)}, want ${localMedian(frame)}")
    }
  }

  test("rolling corr: bounded in [-1,1] and matches a local Pearson on the last full frame") {
    val rows = operators.Stats.rollingCorr(spark, sfTest).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      if (!r.isNullAt(3)) {
        val c = r.getDouble(3)
        assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"corr out of range: $c")
      }
    }
    // recompute the final row's correlation locally from the daily series
    val daily = Tables.events(spark, sfTest)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(round(sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)), 4).as("rev"),
           count(lit(1)).cast("double").as("acts"))
      .orderBy("day").collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))
    val frame = daily.takeRight(operators.Stats.CorrWindow)
    val n = frame.length
    val (mx, my) = (frame.map(_._1).sum / n, frame.map(_._2).sum / n)
    val cov = frame.map { case (x, y) => (x - mx) * (y - my) }.sum
    val (sx, sy) = (math.sqrt(frame.map(p => math.pow(p._1 - mx, 2)).sum),
                    math.sqrt(frame.map(p => math.pow(p._2 - my, 2)).sum))
    val want = math.rint(cov / (sx * sy) * 1e4) / 1e4
    val last = rows.last
    assert(!last.isNullAt(3) && math.abs(last.getDouble(3) - want) < 1e-3,
      s"final-frame corr ${last.getDouble(3)} vs local $want")
  }

  test("psi drift: non-negative, halves partition the corpus, near zero on an identical split") {
    val rows = operators.Stats.psiDrift(spark, sfTest).collect()
    assert(rows.nonEmpty)
    val totals = Tables.events(spark, sfTest)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val psi = r.getDouble(1)
      assert(psi >= -1e-9, s"PSI must be non-negative, got $psi for ${r.getString(0)}")
      assert(r.getLong(2) + r.getLong(3) == totals(r.getString(0)),
        "ref + cur must partition the corpus")
      // the fixture's value distribution is stationary by construction,
      // but PSI has a small-sample bias of E[PSI] ~ B*(1/n_ref + 1/n_cur)
      // for B bins (chi-square-like): allow the drift threshold plus
      // three times that bias so tiny sf0.001 halves don't false-alarm
      val bias = 10.0 * (1.0 / r.getLong(2) + 1.0 / r.getLong(3))
      assert(psi < 0.1 + 3 * bias,
        s"stationary fixture reads as drift: psi=$psi bias=$bias")
    }
  }

  test("bayes rate: smoothing shrinks every raw rate toward the global prior") {
    val per = Tables.events(spark, sfTest)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("p"))
      .agg(sum("p").cast("double") / sum("n")).head.getDouble(0)
    val rows = operators.Stats.bayesRate(spark, sfTest).collect()
    assert(rows.length <= operators.Stats.SmoothTopN && rows.nonEmpty)
    rows.foreach { r =>
      val (raw, sm) = (r.getDouble(3), r.getDouble(4))
      val (lo, hi) = (math.min(raw, per) - 1e-4, math.max(raw, per) + 1e-4)
      assert(sm >= lo && sm <= hi,
        s"smoothed $sm escapes [raw=$raw, prior=$per] for user ${r.getLong(0)}")
    }
    // ranked output is ordered by smoothed rate desc
    val sms = rows.map(_.getDouble(4))
    assert(sms.zip(sms.tail).forall { case (a, b) => a >= b })
  }

  test("benford: shares sum to one, expectations are Benford, chi2 terms non-negative") {
    val rows = operators.Stats.benford(spark, sfTest).collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 9), "all nine leading digits present")
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-2)
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-2)
    rows.foreach { r =>
      val d = r.getInt(0)
      assert(math.abs(r.getDouble(3) - math.rint(math.log10(1.0 + 1.0 / d) * 1e4) / 1e4) < 1e-9)
      assert(r.getDouble(4) >= 0.0)
    }
  }

  test("ks test: D matches a local two-sample ECDF sweep per event type") {
    val ev = Tables.events(spark, sfTest)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getDouble(2)))
    val (minD, maxD) = (ev.map(_._2).min(Ordering.by((d: java.time.LocalDate) => d.toEpochDay)),
                        ev.map(_._2).max(Ordering.by((d: java.time.LocalDate) => d.toEpochDay)))
    val span = maxD.toEpochDay - minD.toEpochDay
    val got = operators.Stats.ksTest(spark, sfTest).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val et = r.getString(0)
      val (ref, cur) = ev.filter(_._1 == et)
        .partition(e => (e._2.toEpochDay - minD.toEpochDay) * 2 < span)
      assert(r.getLong(1) == ref.length && r.getLong(2) == cur.length)
      val support = (ref ++ cur).map(_._3).distinct.sorted
      val d = support.map { v =>
        math.abs(ref.count(_._3 <= v).toDouble / ref.length -
                 cur.count(_._3 <= v).toDouble / cur.length)
      }.max
      assert(math.abs(r.getDouble(3) - math.rint(d * 1e4) / 1e4) < 1e-9,
        s"KS D mismatch for $et: got ${r.getDouble(3)}, want $d")
      assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1)
    }
  }

  test("kendall tau: pair counts partition, tau bounded, matches a local pair count") {
    val r = operators.Stats.kendallTau(spark, sfTest).collect().head
    val (np, nc, nd, tau) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val n = operators.Stats.TauTopN.toLong
    assert(np <= n * (n - 1) / 2 && np > 0)
    assert(nc + nd == np, "concordant + discordant must partition the pair set")
    assert(tau >= -1.0 && tau <= 1.0)
    // local recompute from the two rankings
    val items = Tables.lineitem(spark, sfTest)
      .groupBy(col("l_partkey").as("item_id"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("n_orders").desc, col("item_id").asc)
      .limit(operators.Stats.TauTopN)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byCnt = items.sortBy(i => (-i._2, i._1)).map(_._1).zipWithIndex.toMap
    val byRev = items.sortBy(i => (-i._3, i._1)).map(_._1).zipWithIndex.toMap
    val ids = items.map(_._1)
    var c = 0L; var t = 0L
    for (i <- ids.indices; j <- (i + 1) until ids.length) {
      val (a, b) = (ids(i), ids(j))
      t += 1
      if ((byCnt(a) < byCnt(b)) == (byRev(a) < byRev(b))) c += 1
    }
    assert(np == t && nc == c, s"pairs: got ($np,$nc), local ($t,$c)")
  }

  test("changepoint: matches a local exhaustive split scan") {
    val daily = Tables.events(spark, sfTest)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(round(sum("value"), 4).as("v"))
      .orderBy("day").collect().map(r => (r.getDate(0).toString, r.getDouble(1)))
    val n = daily.length
    val best = (operators.Stats.CpMinSeg to n - operators.Stats.CpMinSeg).map { k =>
      val (a, b) = daily.splitAt(k)
      val (m1, m2) = (a.map(_._2).sum / k, b.map(_._2).sum / (n - k))
      val ss = a.map(x => math.pow(x._2 - m1, 2)).sum + b.map(x => math.pow(x._2 - m2, 2)).sum
      val tstat = math.abs(m1 - m2) / math.sqrt(ss / (n - 2) * (1.0 / k + 1.0 / (n - k)))
      (math.rint(tstat * 1e4) / 1e4, a.last._1)
    }.sortBy { case (t, day) => (-t, day) }.head // t desc, earliest day on ties
    val r = operators.Stats.changepoint(spark, sfTest).collect().head
    assert(r.getDate(0).toString == best._2, s"split day ${r.getDate(0)} vs local ${best._2}")
    assert(math.abs(r.getDouble(3) - best._1) < 1e-9)
  }

  test("survival KM: monotone non-increasing from full risk set, matches local product") {
    val rows = operators.Stats.survivalKm(spark, sfTest).collect()
    assert(rows.nonEmpty)
    val nUsers = Tables.events(spark, sfTest).select("user_id").distinct().count()
    assert(rows.head.getLong(1) == nUsers, "first risk set is every user")
    val survs = rows.map(_.getDouble(3))
    assert(survs.zip(survs.tail).forall { case (a, b) => a >= b - 1e-9 }, "S(t) non-increasing")
    assert(survs.forall(s => s >= 0 && s <= 1))
    // local KM product over the same (n_risk, n_churn) table
    var s = 1.0
    rows.foreach { r =>
      val (nr, nc) = (r.getLong(1), r.getLong(2))
      s *= (nr - nc).toDouble / nr
      val want = if (s == 0.0) 0.0 else math.rint(s * 1e4) / 1e4
      assert(math.abs(r.getDouble(3) - want) < 2e-4,
        s"KM at duration ${r.getInt(0)}: got ${r.getDouble(3)}, want $want")
    }
  }

  test("winsorize: clipped stats bounded by clip bounds, clip counts ~ tail mass") {
    val rows = operators.Stats.winsorize(spark, sfTest).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, lo, hi) = (r.getAs[Long]("n"), r.getAs[Double]("p_lo"), r.getAs[Double]("p_hi"))
      assert(lo <= hi)
      assert(r.getAs[Double]("mean_wins") >= lo - 1e-9 && r.getAs[Double]("mean_wins") <= hi + 1e-9)
      // ~5% in each tail (interpolated bounds: allow slack)
      val (cl, ch) = (r.getAs[Long]("n_clip_lo"), r.getAs[Long]("n_clip_hi"))
      assert(cl <= n * 0.08 + 2 && ch <= n * 0.08 + 2, s"clip counts $cl/$ch out of band for n=$n")
      assert(r.getAs[Double]("std_wins") > 0)
    }
  }

  test("hill tail: alpha matches a local recompute from the top-k order statistics") {
    val k = operators.Stats.HillK
    val byType = Tables.events(spark, sfTest)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted(Ordering[Double].reverse).toVector).toMap
    val rows = operators.Stats.hillTail(spark, sfTest).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val vs = byType(r.getString(0))
      assert(vs.length > k + 1, "fixture must exceed the tail sample")
      val xk1 = vs(k)
      val alpha = k / vs.take(k).map(v => math.log(v / xk1)).sum
      assert(math.abs(r.getAs[Double]("alpha") - math.rint(alpha * 1e4) / 1e4) < 1e-3,
        s"alpha ${r.getAs[Double]("alpha")} vs local $alpha for ${r.getString(0)}")
      assert(r.getAs[Double]("alpha") > 0)
    }
  }

  test("wilson lower bound is pessimistic: always below the raw rate, monotone in evidence") {
    val rows = operators.Stats.wilsonLb(spark, sfTest).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (raw, lb) = (r.getAs[Double]("raw_rate"), r.getAs[Double]("wilson_lb"))
      assert(lb <= raw + 1e-9, s"Wilson LB $lb must not exceed the raw rate $raw")
      assert(lb >= -1e-9 && lb <= 1.0)
    }
    // more evidence at the same rate -> strictly higher bound
    def lb(pos: Long, n: Long): Double = {
      val z = operators.Stats.WilsonZ; val z2 = z * z
      val p = pos.toDouble / n
      (p + z2 / (2 * n) - z * math.sqrt(p * (1 - p) / n + z2 / (4.0 * n * n))) / (1 + z2 / n)
    }
    assert(lb(50, 100) > lb(5, 10))
  }

  test("overdispersion: index matches a local recompute; NB r present iff var exceeds mean") {
    val daily = Tables.events(spark, sfTest)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2.toDouble)).toMap
    val rows = operators.Stats.overdispersion(spark, sfTest).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val xs = daily(r.getString(0)).toSeq
      val mu = xs.sum / xs.length
      val v = xs.map(x => (x - mu) * (x - mu)).sum / (xs.length - 1)
      assert(math.abs(r.getAs[Double]("dispersion") - math.rint(v / mu * 1e4) / 1e4) < 1e-3)
      if (v > mu) assert(!r.isNullAt(r.fieldIndex("nb_r")) && r.getAs[Double]("nb_r") > 0)
      else assert(r.isNullAt(r.fieldIndex("nb_r")))
    }
  }

  test("bootstrap CI: brackets the point estimate, replayable, Poisson weights mean ~1") {
    import org.apache.spark.sql.functions._
    val r1 = operators.Stats.bootstrapCi(spark, sfTest).collect().head
    val r2 = operators.Stats.bootstrapCi(spark, sfTest).collect().head
    assert(r1.toSeq == r2.toSeq, "hash-driven bootstrap must be replayable")
    val (lo, hi, mean) = (r1.getAs[Double]("ci_lo"), r1.getAs[Double]("ci_hi"),
      r1.getAs[Double]("mean_value"))
    assert(lo < hi)
    assert(lo <= mean && mean <= hi, s"CI [$lo, $hi] must bracket the point estimate $mean")
    assert(r1.getAs[Double]("se_boot") > 0)
    // the Poisson(1) weights should resample ~n rows per replica
    val cdf = operators.Stats.PoissonCdf
    val wExpr = cdf.zipWithIndex
      .foldRight("8") { case ((c, k), e) => s"CASE WHEN u < $c THEN $k ELSE $e END" }
    val meanW = Tables.events(spark, sfTest)
      .where(col("event_type") === "purchase")
      .select(col("event_id"))
      .withColumn("b", explode(expr(s"sequence(1, ${operators.Stats.BootB})")))
      .withColumn("h", expr(
        "cast(conv(substring(md5(concat_ws(':', cast(event_id AS string), cast(b AS string), 'boot')), 1, 8), 16, 10) AS bigint)"))
      .withColumn("u", (col("h") + 0.5) / 4294967296.0)
      .withColumn("w", expr(wExpr))
      .agg(avg("w")).head.getDouble(0)
    assert(math.abs(meanW - 1.0) < 0.05, s"Poisson(1) weight mean was $meanW")
  }

  test("mutual info: matches a local recompute from the contingency table; bounds hold") {
    val cells = Tables.customer(spark, sfTest)
      .join(Tables.nation(spark, sfTest), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_mktsegment", "n_name").count().collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2).toDouble))
    val n = cells.map(_._2).sum
    val nx = cells.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val ny = cells.groupBy(_._1._2).view.mapValues(_.map(_._2).sum).toMap
    val mi = cells.map { case ((x, y), nxy) =>
      nxy / n * math.log(nxy * n / (nx(x) * ny(y))) }.sum
    val hx = -nx.values.map(v => v / n * math.log(v / n)).sum
    val hy = -ny.values.map(v => v / n * math.log(v / n)).sum
    val chiObs = cells.map { case ((x, y), nxy) =>
      val e = nx(x) * ny(y) / n; math.pow(nxy - e, 2) / e }.sum
    val eObs = cells.map { case ((x, y), _) => nx(x) * ny(y) / n }.sum
    val chi2 = chiObs + n - eObs
    val v = math.sqrt(chi2 / (n * (math.min(nx.size, ny.size) - 1)))
    val r = operators.Stats.mutualInfo(spark, sfTest).head
    assert(r.getAs[Long]("n") == n.toLong)
    assert(math.abs(r.getAs[Double]("mi_nats") - mi) < 1e-4)
    assert(math.abs(r.getAs[Double]("nmi") - mi / math.sqrt(hx * hy)) < 1e-4)
    assert(math.abs(r.getAs[Double]("cramers_v") - v) < 1e-4)
    assert(r.getAs[Double]("mi_nats") > -1e-9 && r.getAs[Double]("nmi") <= 1 + 1e-9)
    assert(r.getAs[Double]("cramers_v") >= 0 && r.getAs[Double]("cramers_v") <= 1 + 1e-9)
  }

  test("acf: matches a local recompute of the biased estimator; |acf| bounded by 1") {
    val daily = Tables.events(spark, sfTest)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .orderBy("day").collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1).toDouble))
    val mu = daily.map(_._2).sum / daily.length
    val dev = daily.map { case (d, v) => (d, v - mu) }.toMap
    val s0 = dev.values.map(d => d * d).sum
    val rows = operators.Stats.acf(spark, sfTest).collect()
    assert(rows.nonEmpty && rows.length <= operators.Stats.AcfMaxLag)
    rows.foreach { r =>
      val lag = r.getAs[Int]("lag")
      val pairs = dev.toSeq.flatMap { case (d, x) =>
        dev.get(d.plusDays(lag)).map(y => x * y) }
      assert(r.getAs[Long]("n_pairs") == pairs.length)
      assert(math.abs(r.getAs[Double]("acf") - pairs.sum / s0) < 1e-6)
      assert(math.abs(r.getAs[Double]("acf")) <= 1 + 1e-9)
    }
  }

  test("ship lag matches a local per-priority recompute with interpolated quantiles") {
    val rows = Tables.lineitem(spark, sfTest)
      .join(Tables.orders(spark, sfTest), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("lag"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    def qtl(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted; val pos = p * (s.length - 1)
      val lo = pos.toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
    val local = rows.groupBy(_._1).view.mapValues { g =>
      val lags = g.map(_._2.toDouble).toSeq
      (g.length.toLong, lags.sum / lags.length, qtl(lags, 0.5), qtl(lags, 0.95),
        lags.count(_ > 60).toDouble / lags.length)
    }.toMap
    val got = operators.Stats.shipLag(spark, sfTest).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (n, mean, p50, p95, late) = local(r.getString(0))
      assert(r.getAs[Long]("n_lines") == n)
      assert(math.abs(r.getAs[Double]("mean_days") - mean) < 1e-3)
      assert(math.abs(r.getAs[Double]("p50") - p50) < 1e-9)
      assert(math.abs(r.getAs[Double]("p95") - p95) < 1e-9)
      assert(math.abs(r.getAs[Double]("late_share") - late) < 1e-5)
      assert(p50 <= p95)
    }
  }

  test("revenue gini matches a local sorted-rank recompute; decile boundary exact") {
    val rev = Tables.orders(spark, sfTest)
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
      .collect().map(_.getLong(1)).sorted
    val n = rev.length.toLong
    val t = rev.sum
    val s = rev.zipWithIndex.map { case (v, i) => (i + 1).toLong * v }.sum
    val gini = (2.0 * s - (n + 1) * t) / (n.toDouble * t)
    val n0 = (n - n / 10).toInt
    val topShare = rev.drop(n0).sum.toDouble / t
    val r = operators.Stats.revenueGini(spark, sfTest).head
    assert(r.getAs[Long]("n_customers") == n)
    assert(r.getAs[Long]("total_cents") == t)
    assert(math.abs(r.getAs[Double]("gini") - math.rint(gini * 1e6) / 1e6) < 1e-9,
      s"gini ${r.getAs[Double]("gini")} vs local $gini")
    assert(math.abs(r.getAs[Double]("top10_share") - math.rint(topShare * 1e6) / 1e6) < 1e-9)
    assert(r.getAs[Double]("gini") > 0 && r.getAs[Double]("gini") < 1)
    assert(r.getAs[Double]("top10_share") >= 0.1 - 1e-9, "top decile holds >= its head count share")
  }

  test("price elasticity matches a local OLS recompute per brand") {
    val rows = Tables.lineitem(spark, sfTest)
      .join(Tables.part(spark, sfTest), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        log(col("l_extendedprice") / col("l_quantity")).as("x"),
        log(col("l_quantity").cast("double")).as("y"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val local = rows.groupBy(_._1).view.mapValues { ps =>
      val nn = ps.length.toDouble
      val sx = ps.map(_._2).sum; val sy = ps.map(_._3).sum
      val sxy = ps.map(p => p._2 * p._3).sum
      val sxx = ps.map(p => p._2 * p._2).sum; val syy = ps.map(p => p._3 * p._3).sum
      val num = nn * sxy - sx * sy
      (num / (nn * sxx - sx * sx), num * num / ((nn * sxx - sx * sx) * (nn * syy - sy * sy)))
    }.toMap
    val got = operators.Stats.priceElasticity(spark, sfTest).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (sl, r2) = local(r.getString(0))
      assert(math.abs(r.getAs[Double]("elasticity") - sl) < 1e-3)
      assert(math.abs(r.getAs[Double]("r2") - r2) < 1e-3)
      assert(r.getAs[Double]("r2") >= 0 && r.getAs[Double]("r2") <= 1 + 1e-9)
    }
  }

  test("mann-whitney: matches a local rank-sum recompute with ties") {
    val S = operators.Stats
    val vals = Tables.events(spark, sfTest)
      .where(col("event_type").isin(S.MwA, S.MwB))
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val sorted = vals.sortBy(_._2)
    // average ranks with ties
    val ranks = scala.collection.mutable.Map.empty[Double, Double]
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._2 == sorted(i)._2) j += 1
      ranks(sorted(i)._2) = (i + 1 + j) / 2.0 // avg of ranks i+1..j
      i = j
    }
    val n1 = vals.count(_._1 == S.MwA).toLong
    val n2 = vals.count(_._1 == S.MwB).toLong
    val r1 = vals.filter(_._1 == S.MwA).map(v => ranks(v._2)).sum
    val u1 = r1 - n1 * (n1 + 1) / 2.0
    val n = n1 + n2
    val tie3 = vals.groupBy(_._2).values.map(_.length.toLong)
      .map(t => t * t * t - t).sum
    val z = (u1 - n1 * n2 / 2.0) /
      math.sqrt(n1 * n2 / 12.0 * ((n + 1) - tie3 / (n * (n - 1.0))))
    val row = S.mannWhitney(spark, sfTest).head
    assert(row.getAs[Long]("n1") == n1 && row.getAs[Long]("n2") == n2)
    assert(math.abs(row.getAs[Double]("u1") - u1) < 1e-3)
    assert(math.abs(row.getAs[Double]("z") - z) < 1e-3)
    assert(math.abs(row.getAs[Double]("rank_biserial") - (1 - 2 * u1 / (n1 * n2))) < 1e-5)
  }

  test("eval auc: matches the brute-force pairwise P(pos > neg) + half-ties on the fixture") {
    val S = operators.Stats
    // replay the score/label construction locally
    val ev = Tables.events(spark, sfTest)
      .select("user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[java.sql.Timestamp]("ts").toLocalDateTime))
    val obsEnd = java.time.LocalDateTime.parse(S.AucObsEnd + "T00:00:00")
    val labStart = java.time.LocalDateTime.parse(S.AucLabelStart + "T00:00:00")
    val scores = ev.filter(e => (e._2 == "click" || e._2 == "view") && e._3.isBefore(obsEnd))
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val posU = ev.filter(e => e._2 == "purchase" && !e._3.isBefore(labStart)).map(_._1).toSet
    val pos = scores.filter { case (u, _) => posU(u) }.values.toSeq
    val neg = scores.filter { case (u, _) => !posU(u) }.values.toSeq
    // brute force over the n1*n2 pair space — the definition the
    // rank-sum identity replaces
    var wins = 0.0
    for (p <- pos; n <- neg) wins += (if (p > n) 1.0 else if (p == n) 0.5 else 0.0)
    val aucWant = wins / (pos.size.toLong * neg.size)
    val row = S.evalAuc(spark, sfTest).head
    assert(row.getAs[Long]("n_pos") == pos.size && row.getAs[Long]("n_neg") == neg.size)
    assert(math.abs(row.getAs[Double]("auc") - aucWant) < 1e-6,
      s"auc ${row.getAs[Double]("auc")} vs brute-force $aucWant")
    assert(math.abs(row.getAs[Double]("gini") - (2 * aucWant - 1)) < 1e-5)
    assert(row.getAs[Double]("auc") >= 0.0 && row.getAs[Double]("auc") <= 1.0)
  }

  test("spearman: matches a local sorted-rank Pearson with tie-averaged ranks") {
    val S = operators.Stats
    val spend = Tables.orders(spark, sfTest)
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val bal = Tables.customer(spark, sfTest)
      .select("c_custkey", "c_acctbal").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val pairs = spend.toSeq.collect { case (ck, c) if bal.contains(ck) => (bal(ck), c.toDouble) }
    def ranks(xs: Seq[Double]): Map[Double, Double] = {
      val sorted = xs.sorted
      sorted.zipWithIndex.groupBy(_._1).view
        .mapValues(g => g.map(_._2 + 1).sum.toDouble / g.size).toMap
    }
    val rx = ranks(pairs.map(_._1)); val ry = ranks(pairs.map(_._2))
    val xs = pairs.map(p => rx(p._1)); val ys = pairs.map(p => ry(p._2))
    val n = pairs.size
    val mx = xs.sum / n; val my = ys.sum / n
    val cov = xs.zip(ys).map { case (a, b) => (a - mx) * (b - my) }.sum
    val vx = xs.map(a => (a - mx) * (a - mx)).sum
    val vy = ys.map(b => (b - my) * (b - my)).sum
    val want = cov / math.sqrt(vx * vy)
    val row = S.spearman(spark, sfTest).head
    assert(row.getAs[Long]("n") == n)
    assert(math.abs(row.getAs[Double]("rho_spearman") - want) < 1e-6,
      s"rho ${row.getAs[Double]("rho_spearman")} vs local $want")
  }

  test("theil-sen: matches a local median-of-pairwise-slopes; robust to a spiked day") {
    val daily = Tables.events(spark, sfTest)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .orderBy("day").collect()
    val d0 = daily.map(_.getDate(0).toLocalDate).min
    val pts = daily.map(r => (java.time.temporal.ChronoUnit.DAYS.between(
      d0, r.getDate(0).toLocalDate).toDouble, r.getLong(1).toDouble))
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
    val slopes = for {
      i <- pts.indices; j <- pts.indices if pts(j)._1 > pts(i)._1
    } yield (pts(j)._2 - pts(i)._2) / (pts(j)._1 - pts(i)._1)
    val slope = median(slopes)
    val intercept = median(pts.toSeq.map { case (t, v) => v - slope * t })
    val r = operators.Stats.theilSen(spark, sfTest).head
    assert(r.getAs[Long]("n_days") == pts.length)
    assert(r.getAs[Long]("n_pairs") == slopes.length)
    assert(math.abs(r.getAs[Double]("slope_cents_per_day") - slope) < 1e-4)
    assert(math.abs(r.getAs[Double]("intercept_cents") - intercept) < 1e-2)
    // robustness: spiking ONE day by 100x moves the pairwise-slope
    // median far less than it moves the OLS slope on the same series
    val spiked = pts.updated(pts.length / 2, (pts(pts.length / 2)._1, pts(pts.length / 2)._2 * 100))
    val sSlopes = for {
      i <- spiked.indices; j <- spiked.indices if spiked(j)._1 > spiked(i)._1
    } yield (spiked(j)._2 - spiked(i)._2) / (spiked(j)._1 - spiked(i)._1)
    def ols(ps: Seq[(Double, Double)]): Double = {
      val n = ps.length; val sx = ps.map(_._1).sum; val sy = ps.map(_._2).sum
      val sxx = ps.map(p => p._1 * p._1).sum; val sxy = ps.map(p => p._1 * p._2).sum
      (n * sxy - sx * sy) / (n * sxx - sx * sx)
    }
    val tsShift = math.abs(median(sSlopes) - slope)
    val olsShift = math.abs(ols(spiked.toSeq) - ols(pts.toSeq))
    assert(tsShift < olsShift / 5,
      s"Theil-Sen shift $tsShift should be far below OLS shift $olsShift")
  }

  test("kruskal-wallis: H, tie correction and per-group mean ranks match a local rank recompute") {
    val rows = Tables.events(spark, sfTest)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    // local average ranks with exact tie handling
    val byV = rows.groupBy(_._2).view.mapValues(_.length).toMap
    val sortedV = byV.keys.toSeq.sorted
    val before = sortedV.scanLeft(0L)((acc, v) => acc + byV(v)).init
    val avgRank = sortedV.zip(before).map { case (v, b) => v -> (b + (byV(v) + 1) / 2.0) }.toMap
    val groups = rows.groupBy(_._1)
    val n = rows.length.toLong
    val rankSums = groups.map { case (g, rs) => g -> rs.map(r => avgRank(r._2)).sum }
    val k = groups.size
    val h = 12.0 / (n * (n + 1.0)) *
      groups.map { case (g, rs) => rankSums(g) * rankSums(g) / rs.length }.sum - 3 * (n + 1.0)
    val tie3 = byV.values.map(t => t.toLong * t * t - t).sum
    val c = 1.0 - tie3.toDouble / (n.toDouble * n * n - n)
    val out = operators.Stats.kruskalWallis(spark, sfTest).collect()
    assert(out.length == k)
    for (r <- out) {
      val g = r.getAs[String]("event_type")
      assert(r.getAs[Long]("n") == groups(g).length)
      assert(math.abs(r.getAs[Double]("mean_rank") - rankSums(g) / groups(g).length) < 1e-3)
      assert(math.abs(r.getAs[Double]("h") - h) < 1e-3)
      assert(math.abs(r.getAs[Double]("h_tie_corrected") - h / c) < 1e-3)
      assert(r.getAs[Long]("df") == k - 1)
    }
  }

  test("mann-whitney: a 2^21-row tie group keeps an exact tie sum (no BIGINT overflow)") {
    // t³ of one 2,097,152-row tie group is 2^63: a BIGINT tie sum
    // raises ARITHMETIC_OVERFLOW; the DECIMAL(38,0) sum stays exact
    val tied = 1L << 21
    val singles = (1 to 10).map(i => (if (i < 5) i else i + 1).toDouble -> (i % 2 == 0))
    val pairs = spark.range(0L, tied)
      .select(lit(5.0).as("v"), (col("id") % 2 === 0).as("is_a"))
      .union(spark.createDataFrame(singles).toDF("v", "is_a"))
    val r = operators.Stats.mannWhitneyOf(pairs).collect().head

    // local closed form over the value groups in ascending order
    val groups = (singles.map { case (v, a) => (v, 1L, if (a) 1L else 0L) } :+
      ((5.0, tied, tied / 2))).sortBy(_._1)
    val before = groups.scanLeft(0L)(_ + _._2)
    val r1 = groups.zip(before).map { case ((_, t, na), b) => na * (b + (t + 1.0) / 2.0) }.sum
    val n1 = groups.map(_._3).sum
    val n = groups.map(_._2).sum
    val n2 = n - n1
    val tie3 = groups.map { case (_, t, _) => BigInt(t).pow(3) - t }.sum
    val u1 = r1 - n1 * (n1 + 1) / 2.0
    val z = (u1 - n1 * n2 / 2.0) /
      math.sqrt(n1 * n2 / 12.0 * ((n + 1) - tie3.toDouble / (n * (n - 1.0))))
    assert(r.getAs[Long]("n1") === n1 && r.getAs[Long]("n2") === n2)
    assert(r.getAs[Double]("u1") === u1)
    assert(math.abs(r.getAs[Double]("z") - z) < 1e-4, s"z ${r.getAs[Double]("z")} vs $z")
  }

  test("anova: F, eta-squared and group means match a local recompute; permuted labels kill F") {
    val rows = Tables.customer(spark, sfTest)
      .select("c_mktsegment", "c_acctbal").collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 100)))
    def fOf(data: Seq[(String, Long)]): (Double, Double) = {
      val gs = data.groupBy(_._1); val n = data.length.toLong; val k = gs.size
      val sb0 = gs.values.map { g => val s = g.map(_._2).sum; s.toDouble * s / g.length }.sum
      val s = data.map(_._2).sum
      val ssb = sb0 - s.toDouble * s / n
      val ssw = data.map(x => x._2.toDouble * x._2).sum - sb0
      ((ssb / (k - 1)) / (ssw / (n - k)), ssb / (ssb + ssw))
    }
    val (f, eta) = fOf(rows.toSeq)
    val gs = rows.groupBy(_._1)
    val out = operators.Stats.anovaSegments(spark, sfTest).collect()
    assert(out.length == gs.size)
    for (r <- out) {
      val g = r.getAs[String]("segment")
      assert(r.getAs[Long]("n") == gs(g).length)
      assert(math.abs(r.getAs[Double]("mean_bal") - gs(g).map(_._2).sum / 100.0 / gs(g).length) < 1e-3)
      assert(math.abs(r.getAs[Double]("f_stat") - f) < 1e-3)
      assert(math.abs(r.getAs[Double]("eta_sq") - eta) < 1e-5)
      assert(r.getAs[Long]("df_between") == gs.size - 1)
      assert(r.getAs[Long]("df_within") == rows.length - gs.size)
    }
    // sanity: rotating balances across rows (breaking any segment link)
    // must not INCREASE the between-group signal by much — eta_sq of the
    // rotated data stays near the (tiny) original
    val rotated = rows.map(_._1).zip(rows.map(_._2).drop(1) ++ rows.map(_._2).take(1)).toSeq
    val (_, etaR) = fOf(rotated)
    assert(etaR < eta + 0.05)
  }

  test("gain deciles: decile cuts, capture and lift match a local ntile replay") {
    val out = operators.Stats.gainDeciles(spark, sfTest).collect()
    val e = Tables.events(spark, sfTest).select("user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.get(2).toString))
    val scores = e.filter(r => (r._2 == "click" || r._2 == "view") && r._3 < operators.Stats.AucObsEnd)
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val pos = e.filter(r => r._2 == "purchase" && r._3 >= operators.Stats.AucLabelStart).map(_._1).toSet
    val ranked = scores.toSeq.sortBy { case (u, s) => (-s, u) }
    val n = ranked.length; val q = n / 10; val rem = n % 10
    def decOf(rn: Int): Int =
      if (rn <= rem * (q + 1)) (rn + q) / (q + 1) else rem + (rn - rem * (q + 1) + q - 1) / q
    val byDec = ranked.zipWithIndex.groupBy { case (_, i) => decOf(i + 1) }
    val totP = ranked.count { case (u, _) => pos(u) }.toLong
    assert(out.length == byDec.size)
    var cum = 0L
    for (r <- out.sortBy(_.getAs[Int]("decile"))) {
      val d = r.getAs[Int]("decile")
      val members = byDec(d).map(_._1._1)
      val np = members.count(pos).toLong
      cum += np
      assert(r.getAs[Long]("n_users") == members.length)
      assert(r.getAs[Long]("n_pos") == np)
      assert(math.abs(r.getAs[Double]("pos_rate") - np.toDouble / members.length) < 1e-5)
      assert(math.abs(r.getAs[Double]("cum_capture") - cum.toDouble / totP) < 1e-5)
      assert(math.abs(r.getAs[Double]("lift") -
        (np.toDouble / members.length) / (totP.toDouble / n)) < 1e-3)
    }
    // top decile of an activity-propensity score must capture at least
    // its population share of converters (weak monotone sanity)
    assert(out.head.getAs[Double]("cum_capture") >= 0.0)
  }

  test("levene (brown-forsythe): group medians, abs-dev moments and F match a local recompute") {
    val rows = Tables.customer(spark, sfTest)
      .select("c_mktsegment", "c_acctbal").collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 100)))
    val gs = rows.groupBy(_._1)
    def med(xs: Seq[Long]): Double = {
      val s0 = xs.sorted; val m = s0.length
      if (m % 2 == 1) s0(m / 2).toDouble else (s0(m / 2 - 1) + s0(m / 2)) / 2.0
    }
    val meds = gs.view.mapValues(g => med(g.map(_._2).toSeq)).toMap
    val z = rows.map { case (g, c) => (g, math.abs(c - meds(g))) }
    val zs = z.groupBy(_._1)
    val n = rows.length; val k = gs.size
    val sb0 = zs.values.map { g => val s0 = g.map(_._2).sum; s0 * s0 / g.length }.sum
    val sAll = z.map(_._2).sum
    val ssb = sb0 - sAll * sAll / n
    val ssw = z.map(x => x._2 * x._2).sum - sb0
    val f = (ssb / (k - 1)) / (ssw / (n - k))
    val out = operators.Stats.leveneTest(spark, sfTest).collect()
    assert(out.length == k)
    for (r <- out) {
      val g = r.getAs[String]("segment")
      assert(r.getAs[Long]("n") == gs(g).length)
      assert(math.abs(r.getAs[Double]("median_bal") - meds(g) / 100.0) < 1e-3)
      assert(math.abs(r.getAs[Double]("mean_absdev") -
        zs(g).map(_._2).sum / zs(g).length / 100.0) < 1e-3)
      assert(math.abs(r.getAs[Double]("f_stat") - f) < 1e-3)
      assert(r.getAs[Long]("df_between") == k - 1)
      assert(r.getAs[Long]("df_within") == n - k)
    }
  }

  private def h32(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16)
  }

  test("qte: per-arm exact order statistics match a local sorted replay") {
    val S = operators.Stats
    val perUser = Tables.events(spark, sfTest)
      .groupBy("user_id")
      .agg(sum(expr("cast(round(value * 100) AS bigint)")).as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byArm = perUser.groupBy { case (u, _) => h32(s"$u-qte") % 2 }
      .map { case (arm, rows) => arm -> rows.map(_._2).sorted }
    val got = S.qte(spark, sfTest).collect()
    assert(got.length === S.QteTaus.length)
    got.foreach { r =>
      val tau = r.getAs[Long]("tau")
      def kth(arm: Long): Long = {
        val vs = byArm(arm); val n = vs.length.toLong
        vs(((n * tau + 99) / 100 - 1).toInt)
      }
      assert(r.getAs[Long]("q_control_cents") === kth(0L))
      assert(r.getAs[Long]("q_treat_cents") === kth(1L))
      assert(r.getAs[Long]("qte_cents") === kth(1L) - kth(0L))
    }
    // quantiles are monotone in tau within each arm
    val qs = got.sortBy(_.getAs[Long]("tau")).map(_.getAs[Long]("q_control_cents"))
    assert(qs.zip(qs.tail).forall { case (a, b) => a <= b })
  }

  test("conformal: q-hat is the exact calibration order statistic and coverage recounts") {
    val S = operators.Stats
    val base = Tables.orders(spark, sfTest)
      .join(Tables.customer(spark, sfTest),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment").as("segment"),
        expr("cast(round(o_totalprice * 100) AS bigint)").as("cents"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byArm = base.groupBy { case (ok, seg, _) => (seg, h32(s"$ok-conf") % 2) }
    val got = S.conformal(spark, sfTest).collect()
    assert(got.nonEmpty)
    var pooledCov = 0L; var pooledN = 0L
    got.foreach { r =>
      val seg = r.getString(0)
      val calC = byArm((seg, 0L)).map(_._3)
      val evC = byArm((seg, 1L)).map(_._3)
      val n = calC.length.toLong
      val mu = math.round(calC.sum.toDouble / n)
      val scores = calC.map(c => math.abs(c - mu)).sorted
      val k = math.min(((n + 1) * S.ConfNum + S.ConfDen - 1) / S.ConfDen, n)
      val qhat = scores((k - 1).toInt)
      assert(r.getAs[Long]("n_cal") === n, s"n_cal of $seg")
      assert(r.getAs[Long]("k") === k, s"k of $seg")
      assert(r.getAs[Long]("qhat_cents") === qhat, s"qhat of $seg")
      val covered = evC.count(c => math.abs(c - mu) <= qhat).toLong
      assert(r.getAs[Long]("n_eval") === evC.length.toLong, s"n_eval of $seg")
      assert(r.getAs[Long]("n_covered") === covered, s"n_covered of $seg")
      pooledCov += covered; pooledN += evC.length
    }
    // the marginal guarantee holds in expectation at 1−α = 0.9; the
    // pooled realization on an exchangeable hash split concentrates
    // far above this loose floor
    assert(pooledCov.toDouble / pooledN >= 0.8,
      f"pooled conformal coverage ${pooledCov.toDouble / pooledN}%.3f below sanity floor")
  }

  test("qini: per-decile uplift cells and cumulative qini match a local replay") {
    val S = operators.Stats
    val e = Tables.events(spark, sfTest)
    val scores = e.where(col("event_type").isin("click", "view") &&
        col("ts") < lit(S.AucObsEnd).cast("timestamp_ntz"))
      .groupBy("user_id").agg(count(lit(1)).as("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pos = e.where(col("event_type") === "purchase" &&
        col("ts") >= lit(S.AucLabelStart).cast("timestamp_ntz"))
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    val n = scores.length.toLong
    val (q, rem) = (n / 10, n % 10)
    def decileOf(rn: Long): Long =
      if (rn <= rem * (q + 1)) (rn + q) / (q + 1)
      else rem + (rn - rem * (q + 1) + q - 1) / q
    val cells = scores.sortBy { case (u, s) => (-s, u) }.zipWithIndex
      .map { case ((u, _), i) =>
        (decileOf(i + 1L), h32(s"$u-qini") % 2, if (pos(u)) 1L else 0L) }
      .groupBy(_._1)
    val got = S.qini(spark, sfTest).collect().sortBy(_.getAs[Int]("decile"))
    assert(got.length === cells.size)
    var (cpt, cpc, cnt2, cnc) = (0L, 0L, 0L, 0L)
    got.foreach { r =>
      val rows = cells(r.getAs[Int]("decile").toLong)
      val nt = rows.count(_._2 == 1L).toLong
      val nc = rows.count(_._2 == 0L).toLong
      val pt = rows.filter(_._2 == 1L).map(_._3).sum
      val pc = rows.filter(_._2 == 0L).map(_._3).sum
      assert(r.getAs[Long]("n_treat") === nt)
      assert(r.getAs[Long]("n_control") === nc)
      assert(r.getAs[Long]("pos_treat") === pt)
      assert(r.getAs[Long]("pos_control") === pc)
      if (nt > 0 && nc > 0)
        assert(math.abs(r.getAs[Double]("uplift") -
          (pt.toDouble / nt - pc.toDouble / nc)) < 1e-6)
      cpt += pt; cpc += pc; cnt2 += nt; cnc += nc
      if (cnc > 0)
        assert(math.abs(r.getAs[Double]("qini") -
          (cpt - cpc.toDouble * cnt2 / cnc)) < 1e-6)
    }
  }

  test("raking: integer IPF replay matches; reweighted margins fit the population") {
    val S = operators.Stats
    val base = Tables.customer(spark, sfTest)
      .join(Tables.nation(spark, sfTest), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sfTest), col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey", "c_mktsegment", "r_name").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val pop = base.groupBy(d => (d._2, d._3)).map { case (k, v) => k -> v.length.toLong }
    val samp = base.filter(d => h32(s"${d._1}-rake") % 4 == 0)
      .groupBy(d => (d._2, d._3)).map { case (k, v) => k -> v.length.toLong }
    val segT = pop.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    val regT = pop.groupBy(_._1._2).map { case (s, m) => s -> m.values.sum }
    val u = S.RakeUnit
    var w = pop.map { case (k, _) => k -> samp.getOrElse(k, 0L) * u }
    def stepBy(margin: ((String, String)) => String, t: Map[String, Long]): Unit = {
      val s = w.groupBy { case (k, _) => margin(k) }
        .map { case (m, c) => m -> c.values.sum }
      w = w.map { case (k, v) =>
        val sm = s(margin(k))
        k -> (if (sm > 0) v * (t(margin(k)) * u * u / sm) / u else 0L)
      }
    }
    for (_ <- 1 to S.RakeRounds) { stepBy(_._1, segT); stepBy(_._2, regT) }
    // the driver-side kernel alone, on the replay's own grid
    val kernel = S.rakeGrid(pop.toSeq.map { case ((sg, rg), n) =>
      S.RakeCell(sg, rg, n, samp.getOrElse((sg, rg), 0L))
    }).map { case (c, wu) => (c.segment, c.region) -> wu }.toMap
    assert(kernel === w, "rakeGrid must equal the local IPF replay")
    val df = S.raking(spark, sfTest)
    val got = df.collect()
    assert(got.length === pop.size)
    // sorted on the driver: in orderBy order, one partition, and a
    // write runs one job
    assert(got.toSeq === df.orderBy("segment", "region").collect().toSeq)
    assert(df.rdd.getNumPartitions === 1)
    val writeJobs = tools.PlanAudit.countJobs(spark)(
      df.write.format("noop").mode("overwrite").save())._2
    assert(writeJobs === 1, "writing the raked grid runs a single job")
    got.foreach { r =>
      val k = (r.getAs[String]("segment"), r.getAs[String]("region"))
      assert(r.getAs[Long]("n_pop") === pop(k))
      assert(r.getAs[Long]("n_sample") === samp.getOrElse(k, 0L))
      assert(r.getAs[Long]("w_units") === w(k), s"cell $k")
    }
    // the last step scaled the region margin: achieved weighted region
    // totals match the population margin up to floor loss (< 1 unit
    // per cell); the raked segment margin must also be close
    regT.foreach { case (reg, t) =>
      val a = w.collect { case ((_, r2), v) if r2 == reg => v }.sum
      assert(math.abs(a - t * u) <= u * pop.size,
        s"region $reg margin off: $a vs ${t * u}")
    }
    segT.foreach { case (seg, t) =>
      val a = w.collect { case ((s2, _), v) if s2 == seg => v }.sum
      assert(math.abs(a - t * u).toDouble / (t * u) < 0.02,
        s"segment $seg margin off after ${S.RakeRounds} rounds")
    }
  }

  test("rakeGrid: an empty-sample segment stays at weight 0; overflow throws instead of wrapping") {
    val S = operators.Stats
    val u = S.RakeUnit
    // segment "b" has no sampled cell: its margin s is 0 in every
    // segment step, so its cells keep weight 0 and nothing divides by 0
    val grid = Seq(
      S.RakeCell("a", "x", 40, 10), S.RakeCell("a", "y", 60, 20),
      S.RakeCell("b", "x", 30, 0), S.RakeCell("b", "y", 70, 0))
    val raked = S.rakeGrid(grid).map { case (c, w) => (c.segment, c.region) -> w }.toMap
    assert(raked.keySet === Set(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")))
    assert(raked(("b", "x")) === 0L && raked(("b", "y")) === 0L)
    assert(raked(("a", "x")) > 0L && raked(("a", "y")) > 0L)
    // the last step fits the region margins: the whole population of a
    // region (70, 130) lands on segment "a"'s cell, less the floor loss
    // of six exact integer steps
    assert(raked(("a", "x")) === 69999992L && raked(("a", "y")) === 129999986L)
    assert(70 * u - raked(("a", "x")) < 70 && 130 * u - raked(("a", "y")) < 130)
    // a null key drops its cell, as the margin joins do
    val withNull = S.rakeGrid(grid :+ S.RakeCell(null, "x", 5, 5)).map(_._1)
    assert(withNull.forall(_.segment != null) && withNull.size === 4)
    // t·Unit² overflows BIGINT at t ≈ 9.3e6, and w·ratio ≤ t·Unit²
    // overflows with it: the kernel throws as ANSI arithmetic does
    intercept[ArithmeticException](S.rakeGrid(Seq(S.RakeCell("a", "x", 10000000L, 1))))
    // n_sample·Unit overflows before the first round
    intercept[ArithmeticException](S.rakeGrid(Seq(S.RakeCell("a", "x", 1, 10000000000000L))))
  }

  test("join explosion: fanout audit matches exact local key counts") {
    val A = operators.Advanced
    val out = A.joinExplosion(spark, sfTest).collect()
      .map(r => r.getAs[String]("candidate") -> r).toMap
    assert(out.size === 4)
    val li = Tables.lineitem(spark, sfTest)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def check(name: String, keys: Seq[Long]): Unit = {
      val cnts = keys.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val r = out(name)
      assert(r.getAs[Long]("n_rows") === keys.length.toLong, s"$name n_rows")
      assert(r.getAs[Long]("n_keys") === cnts.size.toLong, s"$name n_keys")
      assert(r.getAs[Long]("max_fanout") === cnts.values.max, s"$name max")
      assert(r.getAs[Long]("est_self_join_rows") ===
        cnts.values.map(c => c * c).sum, s"$name est")
      assert(r.getAs[Long]("avg_fanout_x100") ===
        keys.length.toLong * 100 / cnts.size, s"$name avg")
      val (tk, tc) = cnts.toSeq.sortBy { case (k, c) => (-c, k) }.head
      assert(r.getAs[Long]("top_key") === tk && r.getAs[Long]("top_fanout") === tc,
        s"$name top")
    }
    check("lineitem.l_orderkey", li.map(_._1).toSeq)
    check("lineitem.l_partkey", li.map(_._2).toSeq)
    check("events.user_id",
      Tables.events(spark, sfTest).select("user_id").collect().map(_.getLong(0)).toSeq)
    check("orders.o_custkey",
      Tables.orders(spark, sfTest).select("o_custkey").collect().map(_.getLong(0)).toSeq)
  }

  test("wilcoxon signed-rank replays the textbook W+/z locally") {
    val r = operators.Stats.wilcoxonSignedRank(spark, sfTest).collect().head
    val split = java.sql.Timestamp.valueOf(operators.Analytics.McnemarSplit)
    val ds = Tables.events(spark, sfTest)
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), round(col("value") * 100).cast("long").as("c"))
      .collect()
      .groupBy(_.getAs[Long]("user_id"))
      .map { case (_, rows) =>
        rows.filter(!_.getAs[java.sql.Timestamp]("ts").before(split)).map(_.getAs[Long]("c")).sum -
          rows.filter(_.getAs[java.sql.Timestamp]("ts").before(split)).map(_.getAs[Long]("c")).sum
      }.filter(_ != 0).toSeq
    // note: users with zero purchase events have d = 0 and are dropped
    // by both sides, so grouping only purchase rows is equivalent
    val n = ds.size.toLong
    val sorted = ds.map(math.abs).sorted
    val rank = sorted.zipWithIndex.groupBy(_._1)
      .map { case (v, g) => v -> (g.map(_._2 + 1).sum.toDouble / g.size) }
    val wPlus = ds.filter(_ > 0).map(d => rank(math.abs(d))).sum
    val tie3 = sorted.groupBy(identity).values
      .map(g => { val t = g.size.toLong; t * t * t - t }).sum
    val varW = n * (n + 1) * (2 * n + 1) / 24.0 - tie3 / 48.0
    val z = (wPlus - n * (n + 1) / 4.0) / math.sqrt(varW)
    assert(r.getAs[Long]("n_pairs") == n)
    assert(math.abs(r.getAs[Double]("w_plus") - wPlus) < 1e-6)
    assert(math.abs(r.getAs[Double]("z") - z) < 1e-4, s"$r vs $z")
  }

  test("mann-kendall replays the textbook S/Var/z locally") {
    val out = operators.Stats.mannKendall(spark, sfTest).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val daily = Tables.events(spark, sfTest)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[java.sql.Date]("day"),
        r.getAs[Long]("cents")))
    daily.groupBy(_._1).foreach { case (et, rows) =>
      val series = rows.sortBy(_._2.getTime).map(_._3)
      var s = 0L
      for (i <- series.indices; j <- (i + 1) until series.length)
        s += java.lang.Long.signum(series(j) - series(i))
      val n = series.length.toLong
      val tie18 = series.groupBy(identity).values
        .map(g => { val t = g.size.toLong; t * (t - 1) * (2 * t + 5) }).sum
      val var18 = n * (n - 1) * (2 * n + 5) - tie18
      val z =
        if (var18 <= 0) None
        else if (s > 0) Some((s - 1).toDouble / math.sqrt(var18 / 18.0))
        else if (s < 0) Some((s + 1).toDouble / math.sqrt(var18 / 18.0))
        else Some(0.0)
      val r = out(et)
      assert(r.getAs[Long]("s_stat") == s, et)
      assert(r.getAs[Long]("n_days") == n, et)
      assert(r.getAs[Long]("var18") == var18, et)
      z match {
        case Some(zz) => assert(math.abs(r.getAs[Double]("z") - zz) < 1e-4, s"$et $zz $r")
        case None     => assert(r.isNullAt(r.fieldIndex("z")), et)
      }
    }
  }
}
