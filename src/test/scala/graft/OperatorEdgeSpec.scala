package graft

import graft.functions.{TopKByScore, VectorFunctions}
import graft.operators.AsOf
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Edge-shape robustness: empty inputs, single rows, and degenerate
  * groups through the custom operators — the cases a 100 TB run WILL
  * hit in some partition.
  */
class OperatorEdgeSpec extends AnyFunSuite with SparkFixture {

  private def emptyDf(schema: StructType) =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  test("as-of join with an empty right side keeps all left rows unmatched") {
    val session = spark
    import session.implicits._
    val left = Seq((1L, 10L, 100L)).toDF("k", "t", "left_id")
    val right = emptyDf(StructType(Seq(
      StructField("k", LongType), StructField("rt", LongType), StructField("version", LongType))))
    val out = AsOf.asofJoin(left, right, "k", "k", "t", "rt").collect()
    assert(out.length == 1 && out(0).isNullAt(out(0).fieldIndex("version")))
  }

  test("as-of join with an empty left side returns no rows") {
    val session = spark
    import session.implicits._
    val left = emptyDf(StructType(Seq(
      StructField("k", LongType), StructField("t", LongType), StructField("left_id", LongType))))
    val right = Seq((1L, 5L, 900L)).toDF("k", "rt", "version")
    assert(AsOf.asofJoin(left, right, "k", "k", "t", "rt").count() == 0)
  }

  test("top-k aggregate over an empty frame yields no groups; singleton group yields itself") {
    val session = spark
    import session.implicits._
    val empty = emptyDf(StructType(Seq(
      StructField("g", LongType), StructField("s", DoubleType), StructField("id", LongType))))
    assert(empty.groupBy("g")
      .agg(TopKByScore.topK(3, col("s"), col("id"), lit(0L)).as("t")).count() == 0)
    val single = Seq((1L, 0.5, 7L)).toDF("g", "s", "id")
      .groupBy("g").agg(TopKByScore.topK(3, col("s"), col("id"), lit(0L)).as("t"))
      .select(col("g"), explode(col("t")).as("e")).collect()
    assert(single.length == 1 && single(0).getAs[org.apache.spark.sql.Row]("e").getLong(1) == 7L)
  }

  test("float_dot of empty arrays is 0.0; mismatched lengths clamp to the shorter") {
    val session = spark
    import session.implicits._
    val df = Seq((Array.empty[Float], Array.empty[Float]),
                 (Array(1.0f, 2.0f, 3.0f), Array(2.0f))).toDF("a", "b")
    val got = df.select(VectorFunctions.floatDot(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(got(0) == 0.0 && got(1) == 2.0)
  }

  test("null inputs propagate as null through float_dot") {
    val session = spark
    import session.implicits._
    val df = Seq((Some(Array(1.0f)), None: Option[Array[Float]])).toDF("a", "b")
    assert(df.select(VectorFunctions.floatDot(col("a"), col("b"))).head.isNullAt(0))
  }

  test("streams transforms accept an empty events frame") {
    val empty = emptyDf(StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("ts", TimestampType))))
    assert(graft.streaming.Streams.tumblingCounts(empty).count() == 0)
    assert(graft.streaming.Streams.sessionWindows(empty).count() == 0)
    assert(graft.streaming.Streams.firstEventPerType(empty).count() == 0)
  }

  test("stream-stream join transform: empty either side yields no pairs; self-pair horizon exact") {
    val session = spark
    import session.implicits._
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("ts", TimestampType)))
    def at(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = Seq((1L, 1L, at("2024-01-01 10:00:00"))).toDF("event_id", "user_id", "ts")
    val empty = emptyDf(evSchema)
    assert(graft.streaming.Streams.clickPurchaseJoin(clicks, empty).count() == 0)
    assert(graft.streaming.Streams.clickPurchaseJoin(empty, clicks).count() == 0)
    // purchase at click time exactly (latency 0) is inside the window
    val buys = Seq((2L, 1L, at("2024-01-01 10:00:00"))).toDF("event_id", "user_id", "ts")
    val same = graft.streaming.Streams.clickPurchaseJoin(clicks, buys).collect()
    assert(same.length == 1 && same(0).getAs[Long]("latency_us") == 0L)
  }

  test("RRF fusion over empty lists is empty; one empty side degrades to the other ranking") {
    val session = spark
    import session.implicits._
    val schemaL = StructType(Seq(StructField("doc_id", LongType), StructField("bm25_rk", IntegerType)))
    val schemaD = StructType(Seq(StructField("doc_id", LongType), StructField("knn_rk", IntegerType)))
    assert(operators.Similarity.rrfFuse(emptyDf(schemaL), emptyDf(schemaD)).count() == 0)
    val lexOnly = operators.Similarity.rrfFuse(
      Seq((7L, 1), (8L, 2)).toDF("doc_id", "bm25_rk"), emptyDf(schemaD)).collect()
    assert(lexOnly.map(_.getAs[Long]("doc_id")).toSeq == Seq(7L, 8L),
      "one-list fusion must preserve that list's order")
    assert(lexOnly.forall(_.getAs[Int]("knn_rk") == 0))
  }

  test("LPA round over an empty label frame or empty edges yields no labels") {
    val session = spark
    import session.implicits._
    val edges = Seq((1L, 2L, 3L)).toDF("src", "dst", "w")
    val noLbls = emptyDf(StructType(Seq(StructField("src", LongType), StructField("lbl", LongType))))
    assert(operators.GraphRank.lpaRound(edges, noLbls, fitsBroadcast = true).count() == 0)
    val noEdges = emptyDf(StructType(Seq(
      StructField("src", LongType), StructField("dst", LongType), StructField("w", LongType))))
    val lbls = Seq((1L, 1L)).toDF("src", "lbl")
    assert(operators.GraphRank.lpaRound(noEdges, lbls, fitsBroadcast = true).count() == 0)
  }

  test("skyline degenerates: single point survives; identical points keep one entry with full count") {
    import spark.implicits._
    val dir1 = java.nio.file.Files.createTempDirectory("skyedge1").toString
    Seq((10.0, 5)).toDF("p_retailprice", "p_size")
      .write.mode("overwrite").parquet(s"$dir1/part.parquet")
    val one = operators.Stats.paretoFront(spark, dir1).collect()
    assert(one.length == 1 && one(0).getLong(2) == 1L)
    val dir2 = java.nio.file.Files.createTempDirectory("skyedge2").toString
    Seq.fill(7)((10.0, 5)).toDF("p_retailprice", "p_size")
      .write.mode("overwrite").parquet(s"$dir2/part.parquet")
    val dup = operators.Stats.paretoFront(spark, dir2).collect()
    assert(dup.length == 1 && dup(0).getLong(2) == 7L,
      "identical points collapse to one skyline entry carrying the count")
  }

  test("equi-depth histogram with fewer rows than buckets emits one bucket per row") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("histedge").toString
    Seq(3.0, 1.0, 2.0).toDF("l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = operators.Stats.equidepthHist(spark, dir).collect()
    // ntile(10) over 3 rows: buckets 1..3, one row each, value-ordered
    assert(rows.map(_.getAs[Long]("bucket")).toSeq == Seq(1L, 2L, 3L))
    assert(rows.forall(_.getAs[Long]("n_rows") == 1L))
    assert(rows.map(_.getAs[Double]("min_v")).toSeq == Seq(1.0, 2.0, 3.0))
  }

  test("sliding DAU over a single active day fills the trailing window ends") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dauedge").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-05 10:00:00")
    Seq((1L, ts, 7L)).toDF("event_id", "ts", "user_id")
      .withColumn("event_type", lit("view")).withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = operators.Stats.slidingDau(spark, dir).collect()
    // max day == the single day, so only that one window end survives the cap
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("users_7d") == 1L)
  }

  test("windowed funnel transform on a single-user single-view frame reports depth 1 only") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("funedge").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-05 10:00:00")
    Seq((1L, ts, 7L)).toDF("event_id", "ts", "user_id")
      .withColumn("event_type", lit("view")).withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = operators.Analytics.windowFunnel(spark, dir).collect().head
    assert(r.getAs[Long]("n_depth1") == 1L)
    assert(r.getAs[Long]("n_depth2") == 0L && r.getAs[Long]("n_depth3") == 0L)
  }

  test("changepoint on a zero-variance series declares no change point (empty, not NaN)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cpedge").toString
    // 12 days, constant value: every candidate split's pooled variance is 0
    val rows = (1 to 12).map { d =>
      (d.toLong, java.sql.Timestamp.valueOf(f"2024-01-$d%02d 10:00:00"), d.toLong)
    }
    rows.toDF("event_id", "ts", "user_id")
      .withColumn("event_type", lit("view")).withColumn("value", lit(5.0))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(operators.Stats.changepoint(spark, dir).collect().isEmpty,
      "constant series must yield no change point, not a NaN-ranked row")
  }

  test("debounce: a chained burst keeps only its head; spaced events all survive") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("debedge").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: burst of 4 clicks 3s apart (chained: every gap <= 5s) +
    // one click 10s later; user 2: two clicks 60s apart
    val rows = Seq(
      (1L, ts("2024-01-05 10:00:00"), 1L), (2L, ts("2024-01-05 10:00:03"), 1L),
      (3L, ts("2024-01-05 10:00:06"), 1L), (4L, ts("2024-01-05 10:00:09"), 1L),
      (5L, ts("2024-01-05 10:00:19"), 1L),
      (6L, ts("2024-01-05 10:00:00"), 2L), (7L, ts("2024-01-05 10:01:00"), 2L))
    rows.toDF("event_id", "ts", "user_id")
      .withColumn("event_type", lit("click")).withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = operators.Analytics.debounce(spark, dir).collect().head
    assert(r.getAs[Long]("n_events") == 7L)
    // kept: burst head (1), the 10s-later click (5), both of user 2
    assert(r.getAs[Long]("n_kept") == 4L, s"kept ${r.getAs[Long]("n_kept")}")
    assert(r.getAs[Long]("n_dropped") == 3L)
  }

  test("mutual-kNN on a frame with no possible mutual pair yields zero edges; components empty") {
    val session = spark
    import session.implicits._
    // two vectors in opposite directions land in different cells
    // (each is its own centroid) → no same-cell pair exists
    val e = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val edges = operators.Similarity.mutualEdgesFrom(e, nCells = 2, k = 1)
    assert(edges.count() === 0L)
    assert(operators.PipelineOps.connectedComponents(
      edges.select(col("src").as("doc_a"), col("dst").as("doc_b"))).count() === 0L)
    // a 3-vector cell with k=1: the two closest reciprocate, the odd
    // one out points at a vector that prefers its own best — 1 edge
    val e3 = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.99f, 0.14f)),
      (2L, Array(0.9f, 0.43f))
    ).toDF("vec_id", "embedding")
    val m3 = operators.Similarity.mutualEdgesFrom(e3, nCells = 1, k = 1).collect()
    assert(m3.length === 1)
    assert(m3(0).getAs[Long]("src") === 0L && m3(0).getAs[Long]("dst") === 1L)
  }

  // Spark runs with ANSI on, so a ledger whose basis-point column lost
  // its zero-denominator guard throws DIVIDE_BY_ZERO; the curve's empty
  // truth total is NULL, so there the unguarded column reads NULL
  test("IVF ingest recall ledger with no queries: two zero rows, no division by zero") {
    import operators.Similarity._
    val e = Tables.embeddings(spark, sfTest)
    val out = ivfIngestRecallFrom(e, e.where(col("vec_id") % 5 =!= 0), NCells, NProbe,
        nQueries = 0, k = K)
      .select("variant", "n_truth", "n_hits", "recall_bp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out === Seq(("frozen", 0L, 0L, 0L), ("rebuilt", 0L, 0L, 0L)))
  }

  test("filtered post-filter curve for a label no vector carries: 0 bp at every buffer") {
    import operators.Similarity._
    val e = Tables.embeddings(spark, sfTest)
    val absent = 1000003
    assert(e.where(col("label") === absent).isEmpty)
    // getLong, not getAs[Long]: getAs unboxes a NULL to 0
    val out = knnFilteredCurveFrom(e, NCells, NProbe, NQueries, K, absent, FilterBufMax)
      .select("buffer", "n_kept", "n_hits", "recall_bp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out === (1L to FilterBufMax.toLong).map(b => (b, 0L, 0L, 0L)))
  }

  test("span corruption boundaries: minimum-length doc gets exactly one span; shorter docs drop") {
    val session = spark
    import session.implicits._
    val T = operators.Training
    // n_chars == SpanMinChars (40): n_spans = max(1, 40·15/2000) = 1,
    // masked = SpanLen exactly → rate = 20/40 = 5000 bp; a 39-char doc
    // is excluded entirely
    val docs = Seq((1L, "a", T.SpanMinChars), (2L, "b", T.SpanMinChars - 1))
      .toDF("doc_id", "source", "n_chars")
    val out = T.spanCorruptionFrom(docs).collect()
    assert(out.length === 1 && out(0).getAs[String]("source") === "a")
    assert(out(0).getAs[Long]("total_spans") === 1L)
    assert(out(0).getAs[Long]("total_islands") === 1L)
    assert(out(0).getAs[Long]("total_masked_chars") === T.SpanLen)
    assert(out(0).getAs[Long]("mask_rate_bp") === 5000L)
    // and on the real fixture the mask can never exceed the doc mass
    operators.Training.spanCorruption(spark, sfTest).collect().foreach { r =>
      assert(r.getAs[Long]("mask_rate_bp") <= 10000L)
      assert(r.getAs[Long]("total_islands") <= r.getAs[Long]("total_spans"))
    }
  }

  test("qte: both arms non-empty on the fixture and quantiles are monotone") {
    val out = operators.Stats.qte(spark, sfTest).collect()
    assert(out.length === operators.Stats.QteTaus.length)
    val qc = out.map(_.getAs[Long]("q_control_cents"))
    val qt = out.map(_.getAs[Long]("q_treat_cents"))
    assert(qc.zip(qc.tail).forall { case (a, b) => a <= b })
    assert(qt.zip(qt.tail).forall { case (a, b) => a <= b })
    out.foreach(r => assert(r.getAs[Long]("qte_cents") ===
      r.getAs[Long]("q_treat_cents") - r.getAs[Long]("q_control_cents")))
  }

  test("survival KM with every user censored emits survival 1.0 throughout") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("kmedge").toString
    // all last events at the corpus max day: nobody clears the censor horizon
    val ts = java.sql.Timestamp.valueOf("2024-01-05 10:00:00")
    val rows = (1 to 5).map(u => (u.toLong, ts, u.toLong))
    rows.toDF("event_id", "ts", "user_id")
      .withColumn("event_type", lit("view")).withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val km = operators.Stats.survivalKm(spark, dir).collect()
    assert(km.nonEmpty)
    km.foreach(r => assert(r.getAs[Double]("survival") == 1.0,
      "censored-only lifetimes must not decrement survival"))
  }
}
