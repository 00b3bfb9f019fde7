package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RelationalSpec extends AnyFunSuite with SparkFixture {

  test("every relational query runs non-empty on sf0.001 and matches its declared columns") {
    operators.Relational.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfTest)
      val n = df.count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("entry smoke returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("build-job budget: after a warm build, only q_raking's grid collect runs at build time") {
    val names = Seq("q_window_ranks", "q_top_customers", "q_price_elasticity", "q_raking")
    val registry = SparkEntry.queries
    // the warm build infers each fixture schema once for the session
    names.foreach(n => registry(n)(spark, sfTest))
    val jobs = names.map { n =>
      n -> tools.PlanAudit.countJobs(spark)(registry(n)(spark, sfTest))._2
    }.toMap
    info(s"build-time jobs: $jobs")
    assert(jobs("q_window_ranks") === 0)
    assert(jobs("q_top_customers") === 0)
    assert(jobs("q_price_elasticity") === 0)
    assert(jobs("q_raking") <= 4, "q_raking builds with its one grid collect only")
  }

  test("registry pins: 325 queries, 318 oracles, 7 rows-only, duplicate names fail") {
    assert(SparkEntry.specs.size === 325)
    assert(SparkEntry.queries.size === 325)
    assert(SparkEntry.oracleSql.size === 318)
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet === Set(
      "q_als_implicit", "q_als_recommend", "q_approx_distinct", "q_item2vec_synonyms",
      "q_knn_lsh", "q_lr_ranking", "q_seq_patterns"))
    val a = SparkEntry.specs.head
    val b = SparkEntry.specs.last
    val e = intercept[IllegalArgumentException](
      QuerySpec.queries(Seq(a, b, a.copy(oracle = None))))
    assert(e.getMessage.contains(a.name))
    assert(!e.getMessage.contains(b.name))
  }

  test("select: every name must be registered; a typo throws before any work") {
    assert(SparkEntry.select(None) eq SparkEntry.queries)
    assert(SparkEntry.select(Some("q_raking, q_top_customers")).keySet ===
      Set("q_raking", "q_top_customers"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("q_raking,q_rakng,q_nope")))
    assert(e.getMessage.contains("'q_rakng'") && e.getMessage.contains("'q_nope'"))
    assert(!e.getMessage.contains("'q_raking'"))
    intercept[IllegalArgumentException](SparkEntry.select(Some("")))
    // the tools fail on it before writing or warming anything
    val out = java.nio.file.Files.createTempDirectory("verify-typo").resolve("out")
    intercept[IllegalArgumentException](Verify.main(Array(sfTest, out.toString, "q_rakng")))
    assert(!java.nio.file.Files.exists(out))
    intercept[IllegalArgumentException](tools.PlanAudit.main(Array(sfTest, "q_rakng")))
  }

  test("window navigation: first/last bracket every row, fractions in (0,1]") {
    val rows = operators.Relational.windowNavigation(spark, sfTest).collect()
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_.getAs[Long]("o_custkey"))
    byUser.foreach { case (_, rs) =>
      val first = rs.head.getAs[Double]("first_price")
      val last = rs.head.getAs[Double]("last_price")
      // identical navigation values on every row of the partition
      assert(rs.forall(_.getAs[Double]("first_price") === first))
      assert(rs.forall(_.getAs[Double]("last_price") === last))
      // second_price defined iff the partition has >= 2 rows
      assert(rs.forall(r => (r.getAs[Any]("second_price") != null) == (rs.length >= 2)))
      // cume_dist ends at exactly 1.0 for the max-price row
      assert(rs.map(_.getAs[Double]("cd")).max === 1.0)
      rs.foreach { r => assert(r.getAs[Double]("pr") >= 0.0 && r.getAs[Double]("cd") <= 1.0) }
    }
  }

  test("unpivot emits exactly one row per (nation, metric)") {
    val rows = operators.Relational.unpivotMetrics(spark, sfTest).collect()
    val nations = rows.map(_.getString(0)).distinct
    assert(rows.length === nations.length * 3)
    assert(rows.map(_.getString(1)).distinct.sorted.toSeq ===
      Seq("n_orders", "sum_qty", "sum_revenue"))
  }

  test("pricing summary aggregates correctly on a literal frame") {
    import spark.implicits._
    // two groups, hand-checked sums
    val li = Seq(
      ("A", "F", 10.0, 100.0, 0.1),
      ("A", "F", 20.0, 200.0, 0.0),
      ("N", "O", 5.0, 50.0, 0.5)
    ).toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount")
    val got = li.groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"),
           round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("sum_disc_price"))
      .orderBy("l_returnflag")
      .collect()
    assert(got(0) === Row("A", "F", 30.0, 290.0))
    assert(got(1) === Row("N", "O", 5.0, 25.0))
  }

  test("sessionization splits on >30min gaps (literal frame)") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
    val e = Seq(
      (1L, 1L, at(0)), (2L, 1L, at(60)),           // session 1
      (3L, 1L, at(60 + 1801 + 60)),                 // gap 1861s -> session 2
      (4L, 2L, at(0))                               // other user
    ).toDF("event_id", "user_id", "ts")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val sessions = e
      .withColumn("gap", unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w)))
      .withColumn("is_new", when($"gap".isNull || $"gap" > 1800L * 1000000L, 1).otherwise(0))
      .withColumn("sid", sum($"is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id").agg(max("sid").as("n_sessions"))
      .orderBy("user_id").collect()
    assert(sessions(0) === Row(1L, 2L))
    assert(sessions(1) === Row(2L, 1L))
  }

  test("events loader yields microsecond timestamps (ns truncated like DuckDB)") {
    val e = Tables.events(spark, sfTest)
    assert(e.schema("ts").dataType.typeName === "timestamp")
    assert(e.count() > 0)
  }

  test("linear-counting sketch: estimate within a few percent of exact") {
    val rows = operators.Relational.sketchDistinct(spark, sfTest).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_buckets") <= r.getAs[Long]("n_exact"))
      assert(r.getAs[Long]("n_buckets") <= operators.Relational.SketchM)
      assert(r.getAs[Double]("err_pct") < 5.0,
        s"linear counting at low load factor should be accurate: $r")
    }
  }

  test("variant props: typed extraction agrees with string-JSON, null path counts zero") {
    val session = spark
    import session.implicits._
    // cross-check against the established string-JSON query: the same
    // per-type k aggregates must fall out of the VARIANT path
    val vp = operators.Relational.variantProps(spark, sfTest).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val jp = operators.Relational.jsonPropsStats(spark, sfTest).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(vp.keySet === jp.keySet)
    vp.foreach { case (t, r) =>
      assert(r.getAs[Long]("n_with_k") === jp(t).getAs[Long]("n_with_k"))
      assert(r.getAs[Double]("avg_k") === jp(t).getAs[Double]("avg_k"))
      // the missing path must be NULL for every row, never an error
      assert(r.getAs[Long]("n_missing") === 0L)
      // the fixture's uniform {"k": int} shape introspects to ONE schema
      assert(r.getAs[Long]("n_schemas") === 1L)
      // the nested constructed variant round-trips: sum_val = sum of
      // coalesce(k, 0) = sum_k when every row carries k
      if (r.getAs[Long]("n_with_k") === r.getAs[Long]("n_events"))
        assert(r.getAs[Long]("sum_val") === r.getAs[Long]("sum_k"))
    }
    // literal-frame typed semantics: ints extract as long, strings as
    // string, absent/typed-mismatch paths yield NULL
    val lit1 = Seq(("""{"a": 7, "s": "x", "o": {"b": 3}}"""), ("""{"a": null}"""))
      .toDF("j")
      .selectExpr(
        "variant_get(parse_json(j), '$.a', 'long') AS a",
        "variant_get(parse_json(j), '$.s', 'string') AS s",
        "variant_get(parse_json(j), '$.o.b', 'long') AS b",
        "variant_get(parse_json(j), '$.zzz', 'long') AS z")
      .collect()
    assert(lit1(0).getLong(0) === 7L && lit1(0).getString(1) === "x" &&
      lit1(0).getLong(2) === 3L && lit1(0).isNullAt(3))
    assert(lit1(1).isNullAt(0) && lit1(1).isNullAt(1) && lit1(1).isNullAt(3))
  }

  test("full outer reconcile: both unmatched directions survive with zero-filled sides") {
    val rows = operators.Relational.fullOuterReconcile(spark, sfTest).collect()
    val presence = rows.map(_.getAs[String]("presence")).toSet
    assert(presence.contains("orders_only") && presence.contains("events_only"),
      s"fixture eras should produce both unmatched directions, got $presence")
    rows.foreach { r =>
      r.getAs[String]("presence") match {
        case "orders_only" => assert(r.getAs[Long]("n_events") === 0L)
        case "events_only" => assert(r.getAs[Long]("n_orders") === 0L)
        case "both" => assert(r.getAs[Long]("n_orders") > 0L && r.getAs[Long]("n_events") > 0L)
      }
    }
  }

  test("RFM segments partition the customer base into valid quartile cells") {
    val rows = operators.Relational.rfmSegments(spark, sfTest).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      Seq("r_score", "f_score", "m_score").foreach { c =>
        val s = r.getAs[Int](c); assert(s >= 1 && s <= 4, s"$c out of quartile range: $s")
      }
      assert(r.getAs[Double]("avg_monetary") > 0.0)
    }
    val nCustomers = Tables.orders(spark, sfTest)
      .select("o_custkey").distinct().count()
    assert(rows.map(_.getAs[Long]("n_customers")).sum === nCustomers)
  }

  test("lateral top-n: at most 2 customers per nation, balances ordered") {
    val r = operators.Relational.lateralTopN(spark, sfTest).collect()
    assert(r.nonEmpty)
    r.groupBy(_.getAs[String]("n_name")).foreach { case (_, rows) =>
      assert(rows.length <= 2)
      val bals = rows.map(_.getAs[Double]("c_acctbal"))
      assert(bals.sorted.reverse.toSeq === bals.toSeq)
    }
  }

  test("setops all: multiset surplus equals per-user count difference") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sfTest)
    val counts = ev.groupBy("user_id")
      .agg(sum((col("event_type") === "view").cast("long")).as("nv"),
           sum((col("event_type") === "click").cast("long")).as("nc"))
      .withColumn("surplus", greatest(col("nv") - col("nc"), lit(0L)))
      .where(col("surplus") > 0)
      .groupBy("surplus").agg(count(lit(1)).as("n_users"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = operators.Relational.setopsAll(spark, sfTest)
      .collect().map(r => r.getAs[Long]("surplus") -> r.getAs[Long]("n_users")).toMap
    assert(got === counts)
  }

  test("dow profile: 7 days, shares sum to 1") {
    import org.apache.spark.sql.functions._
    val r = operators.Relational.dowProfile(spark, sfTest).collect()
    assert(r.length === 7)
    assert(r.map(_.getAs[Int]("iso_dow")).sorted.toSeq === (1 to 7))
    val s = r.map(_.getAs[Double]("order_share")).sum
    assert(math.abs(s - 1.0) < 1e-4)
  }

  test("reorder rate: repeat users bounded by buyers, floor respected") {
    operators.Relational.reorderRate(spark, sfTest).collect().foreach { row =>
      assert(row.getAs[Long]("n_users") >= operators.Relational.ReorderMinUsers)
      assert(row.getAs[Long]("n_repeat_users") <= row.getAs[Long]("n_users"))
      val rr = row.getAs[Double]("reorder_rate")
      assert(rr >= 0.0 && rr <= 1.0)
    }
  }
}
