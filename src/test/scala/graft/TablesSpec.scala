package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-loader contract pins.
  *
  * The events fixture has shipped with three different physical `ts`
  * encodings across driver generations (TIMESTAMP(NANOS) read as long,
  * timestamp_ntz, timestamp) — round 5 closed green and then the
  * fixture flipped encodings, crashing all 46 events-dependent queries
  * in the end-of-round run. These tests pin [[Tables.normalizeTs]] to
  * produce the identical session-zone µs timestamp from every encoding
  * so the next flip is a no-op.
  */
class TablesSpec extends AnyFunSuite with SparkFixture {

  private val usWanted = 1704067200123456L // 2024-01-01T00:00:00.123456Z

  test("normalizeTs: long nanos truncate to the µs timestamp") {
    val df = spark.createDataFrame(
      java.util.List.of(Row(java.lang.Long.valueOf(usWanted * 1000L + 789L))),
      StructType(Seq(StructField("ts", LongType))))
    val out = Tables.normalizeTs(df)
    assert(out.schema("ts").dataType === TimestampType)
    assert(out.select(unix_micros(col("ts"))).head.getLong(0) === usWanted)
  }

  test("normalizeTs: timestamp_ntz casts value-preserving under the UTC session") {
    val df = spark.createDataFrame(
      java.util.List.of(Row(java.time.LocalDateTime.parse("2024-01-01T00:00:00.123456"))),
      StructType(Seq(StructField("ts", TimestampNTZType))))
    val out = Tables.normalizeTs(df)
    assert(out.schema("ts").dataType === TimestampType)
    assert(out.select(unix_micros(col("ts"))).head.getLong(0) === usWanted)
  }

  test("normalizeTs: native timestamp passes through unchanged") {
    val df = spark.createDataFrame(
      java.util.List.of(Row(java.time.Instant.ofEpochSecond(1704067200L, 123456000L))),
      StructType(Seq(StructField("ts", TimestampType))))
    val out = Tables.normalizeTs(df)
    assert(out.schema("ts").dataType === TimestampType)
    assert(out.select(unix_micros(col("ts"))).head.getLong(0) === usWanted)
  }

  test("spread: a sub-parallel input is repartitioned to the session target") {
    val one = spark.range(0, 100, 1, 1).toDF("k")
    val out = Tables.spread(one, "k")
    assert(out.rdd.getNumPartitions ===
      spark.sessionState.conf.numShufflePartitions)
  }

  test("spread: an already-parallel input passes through un-exchanged") {
    // r14 scale-safety gate: at 100 TB scans arrive as many splits and
    // spread must NOT pay a full shuffle of the projected columns (nor
    // reduce parallelism below the natural split count)
    val many = spark.range(0, 100, 1,
      spark.sessionState.conf.numShufflePartitions).toDF("k")
    assert(Tables.spread(many, "k") eq many,
      "spread must be the identity on an input at/above half the target parallelism")
  }

  test("events loader yields a TIMESTAMP ts on the on-disk fixture") {
    val ev = Tables.events(spark, sfTest)
    assert(ev.schema("ts").dataType === TimestampType)
    assert(ev.count() > 0)
    // downstream contract: unix_micros must resolve (this is exactly the
    // expression that failed analysis when the fixture flipped to NTZ)
    assert(ev.select(unix_micros(col("ts"))).head.getLong(0) > 0L)
  }

  test("table: schema inferred once per session; invalidate and newSession re-infer") {
    val session = spark
    import session.implicits._
    val jobs = (s: org.apache.spark.sql.SparkSession, name: String, dir: String) =>
      tools.PlanAudit.countJobs(s)(Tables.table(s, dir, name))
    val dir = java.nio.file.Files.createTempDirectory("schemamemo").toString
    Seq(1L, 2L).toDF("x").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val (first, inferJobs) = jobs(spark, "t", dir)
    assert(first.columns.toSeq === Seq("x"))
    assert(inferJobs >= 1, "the first read of a path infers its schema with a job")
    val (again, againJobs) = jobs(spark, "t", dir)
    assert(againJobs === 0, "a second read of the same path must run no job")
    assert(again.schema === first.schema && again.count() === 2L)
    // fresh attribute ids per read: a self-join of two reads resolves
    assert(first.join(again, first("x") === again("x")).count() === 2L)
    // rewrite with a different schema: the session keeps its schema
    // (inputs immutable) until invalidate drops it
    Seq((3L, "c")).toDF("x", "y").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq === Seq("x"))
    QueryCache.invalidate(spark)
    val (rewritten, rewriteJobs) = jobs(spark, "t", dir)
    assert(rewritten.columns.toSeq === Seq("x", "y") && rewriteJobs >= 1)
    assert(rewritten.as[(Long, String)].collect().toSeq === Seq((3L, "c")))
    // a new session infers on its own
    val other = spark.newSession()
    assert(jobs(other, "t", dir)._2 >= 1, "a new session must infer again")
    assert(jobs(other, "t", dir)._2 === 0)
    QueryCache.invalidate(other)
  }

  test("events read twice yields the same normalized µs timestamp column and values") {
    val a = Tables.events(spark, sfTest)
    val (b, jobs) = tools.PlanAudit.countJobs(spark)(Tables.events(spark, sfTest))
    assert(jobs === 0, "the second events read must reuse the session's schema")
    assert(a.schema === b.schema && b.schema("ts").dataType === TimestampType)
    val us = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("event_id"), unix_micros(col("ts"))).orderBy("event_id").collect().toSeq
    assert(us(a) === us(b))
  }
}
