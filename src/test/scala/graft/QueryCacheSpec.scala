package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** QueryCache lifecycle: memoization, the invalidate escape hatch for
  * rewritten inputs (the round-2 advisor's staleness concern), and
  * reentrant builds (a cached build reading another cached entry).
  */
class QueryCacheSpec extends AnyFunSuite with SparkFixture {

  test("memo caches; invalidate picks up a rewritten source") {
    val session = spark
    import session.implicits._
    val dir = Files.createTempDirectory("qcache").toFile.getAbsolutePath
    Seq(1L, 2L, 3L).toDF("x").write.mode("overwrite").parquet(s"$dir/t.parquet")

    def total(): Long = QueryCache.memo(spark, s"spec:$dir") {
      spark.read.parquet(s"$dir/t.parquet").agg(sum("x"))
    }.collect()(0).getLong(0)

    assert(total() === 6L)
    // rewrite the source: memo still serves the session-cached plan
    Seq(10L, 20L).toDF("x").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(total() === 6L, "documented contract: inputs immutable unless invalidated")
    // escape hatch
    QueryCache.invalidate(spark)
    assert(total() === 30L, "invalidate must rebuild from the rewritten source")
    QueryCache.invalidate(spark)
  }

  test("reentrant memo (build reads another cached entry) does not deadlock") {
    val session = spark
    import session.implicits._
    QueryCache.invalidate(spark)
    val inner = () => QueryCache.memo(spark, "spec:inner") { Seq(1, 2, 3).toDF("v") }
    val outer = QueryCache.memo(spark, "spec:outer") {
      inner().agg(sum("v").as("s"))
    }
    assert(outer.collect()(0).getLong(0) === 6L)
    QueryCache.invalidate(spark)
  }

  test("once: one run per session, again after invalidate or in a new session or after a throw") {
    QueryCache.invalidate(spark)
    var runs = 0
    def tick(s: org.apache.spark.sql.SparkSession): Unit =
      QueryCache.once(s, "spec:once") { runs += 1 }
    tick(spark); tick(spark)
    assert(runs === 1, "the effect must run once per session")
    QueryCache.invalidate(spark)
    tick(spark)
    assert(runs === 2, "invalidate must forget the done mark")
    val other = spark.newSession()
    tick(other); tick(other)
    assert(runs === 3, "a new session runs the effect once more")
    QueryCache.invalidate(other)
    // a throwing effect is not marked done: the next call re-runs it
    var attempts = 0
    def flaky(): Unit = QueryCache.once(spark, "spec:once:flaky") {
      attempts += 1
      if (attempts == 1) throw new IllegalStateException("first attempt fails")
    }
    intercept[IllegalStateException](flaky())
    flaky(); flaky()
    assert(attempts === 2, "a throwing effect must re-run, a returned one must not")
    // nested inside once and inside memo: no deadlock, each inner tag once
    var inner = 0
    QueryCache.once(spark, "spec:once:outer") {
      QueryCache.once(spark, "spec:once:inner") { inner += 1 }
    }
    val viaMemo = QueryCache.memo(spark, "spec:once:memo") {
      QueryCache.once(spark, "spec:once:inner") { inner += 1 }
      QueryCache.once(spark, "spec:once:inner2") { inner += 1 }
      spark.range(3).toDF("v")
    }
    assert(viaMemo.count() === 3L && inner === 2)
    QueryCache.invalidate(spark)
  }
}
