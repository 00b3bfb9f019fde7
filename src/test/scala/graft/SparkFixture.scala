package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for ScalaTest suites: the mains' own
  * [[GraftSession]] conf, so tests plan what Bench and Verify run,
  * plus the test-only Hive catalog.
  */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = SparkFixture.session

  val sfTest = "/root/testdata/sf0.001"

  override def afterAll(): Unit = super.afterAll()
}

object SparkFixture {
  /** Fixed, not SPARK_GRAFT_CPUS: plan pins and partition-sensitive
    * expectations were written against 4 shuffle partitions, and a test
    * must not change outcome with the host's core count. */
  val Cpus = 4

  lazy val session: SparkSession = GraftSession.getOrCreate(
    GraftSession.builder(Cpus)
      // Hive-backed catalog (SURVEY §2.1 S4): embedded Derby metastore
      // + warehouse under target/ so persistent-table semantics (the
      // reference family's Hive warehouse source/sink) run in tests.
      // Catalog choice is a static conf, so it lives on the ONE shared
      // session; temp-view-based suites are unaffected.
      .config("spark.sql.warehouse.dir", "target/hive-warehouse")
      .config("javax.jdo.option.ConnectionURL",
        "jdbc:derby:;databaseName=target/metastore_db;create=true")
      .enableHiveSupport())
}
