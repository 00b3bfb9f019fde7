package graft

import graft.sources.Sources
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** S2/S5: CSV round-trip with explicit schema; S3: JDBC reader config.
  * Writes only under target/ (scratch space inside the repo).
  */
class SourcesSpec extends AnyFunSuite with SparkFixture {

  test("CSV round-trip preserves rows and types under explicit schema") {
    val src = Tables.orders(spark, sfTest)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
      .limit(500)
    val path = "target/tmp/orders_csv"
    Sources.writeCsv(src, path)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderstatus", StringType)))
    val back = Sources.csv(spark, path, schema)
    assert(back.schema.map(f => (f.name, f.dataType)) == schema.map(f => (f.name, f.dataType)))
    assert(back.count() == src.count())
    val a = src.agg(round(sum("o_totalprice"), 4)).head.getDouble(0)
    val b = back.agg(round(sum("o_totalprice"), 4)).head.getDouble(0)
    assert(a == b)
  }

  test("TSV ratings-file layout reads with declared schema") {
    val session = spark
    import session.implicits._
    val path = "target/tmp/ratings_tsv"
    Seq((1L, 101L, 5.0, 881250949L), (1L, 102L, 3.0, 881250950L), (2L, 101L, 4.0, 881250951L))
      .toDF("user_id", "item_id", "rating", "ts")
      .write.mode("overwrite").option("sep", "\t").csv(path)
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("item_id", LongType),
      StructField("rating", DoubleType), StructField("ts", LongType)))
    val df = Sources.csv(spark, path, schema)
    assert(df.count() == 3)
    assert(df.where($"user_id" === 1L).agg(sum("rating")).head.getDouble(0) == 8.0)
  }

  test("JSON lines round-trip preserves rows and types under explicit schema; FAILFAST throws") {
    val session = spark
    import session.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl")
    val good = dir.resolve("good").toString
    val rows = Seq((1L, "alpha", 10.5, true), (2L, "beta", -0.25, false), (3L, null, 3e9, true))
    rows.toDF("id", "name", "v", "flag").write.mode("overwrite").json(good)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("v", DoubleType), StructField("flag", BooleanType)))
    val back = Sources.jsonLines(spark, good, schema)
    assert(back.schema.map(f => (f.name, f.dataType)) == schema.map(f => (f.name, f.dataType)))
    // the writer omits the null field; the declared schema reads it back as null
    val got = back.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getBoolean(3))).toSeq
    assert(got == rows)
    // a malformed line fails the read instead of surfacing as a null row;
    // collect() materializes the typed columns so the parser runs
    val bad = dir.resolve("bad")
    java.nio.file.Files.createDirectories(bad)
    java.nio.file.Files.writeString(bad.resolve("part-0.json"),
      "{\"id\": 1, \"name\": \"a\", \"v\": 1.0, \"flag\": true}\n{\"id\": 2, \"name\": \"b\", \"v\": \n")
    intercept[org.apache.spark.SparkException] {
      Sources.jsonLines(spark, bad.toString, schema).collect()
    }
  }

  test("JDBC reader carries partitioned-read configuration") {
    val r = Sources.jdbcReader(spark, "jdbc:postgresql://db:5432/recs", "recommendations",
      partitionColumn = "user_id", lowerBound = 0L, upperBound = 1000000L, numPartitions = 64)
    // no .load() here (no Postgres in this environment) — the contract
    // is that the reader is fully configured for parallel range reads;
    // the Derby test below executes the same code path
    assert(r != null)
  }

  test("JDBC round-trip through embedded Derby executes the partitioned read") {
    // Derby ships with the Spark distribution (the Hive-metastore
    // dependency), so the full write→read JDBC path is executable
    // offline: same DataSource-v1 code path a MySQL/Postgres deployment
    // would run, minus only the vendor dialect.
    val session = spark
    import session.implicits._
    val derbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"
    val url = "jdbc:derby:target/tmp/derby_recs;create=true"
    val src = (1L to 100L).map(i => (i, i % 10, (i % 7).toDouble))
      .toDF("rec_id", "item_id", "score")
    Sources.jdbcWrite(src, url, "recs", Some(derbyDriver))
    val back = Sources.jdbcReader(spark, url, "recs",
        partitionColumn = "rec_id", lowerBound = 1L, upperBound = 101L, numPartitions = 4)
      .option("driver", derbyDriver)
      .load()
    // the partition spec must actually split the scan into range tasks
    assert(back.rdd.getNumPartitions == 4, "partitioned read must produce one task per range")
    assert(back.count() == 100)
    assert(back.agg(sum("score")).head.getDouble(0) ==
           src.agg(sum("score")).head.getDouble(0))
    // range predicates must not drop or duplicate boundary rows
    assert(back.select("rec_id").distinct().count() == 100)
  }

  test("Hive warehouse table: partitioned managed-table round-trip with partition pruning") {
    val session = spark
    import session.implicits._
    assert(session.conf.get("spark.sql.catalogImplementation") == "hive",
      "fixture session must carry the Hive catalog for S4 semantics")
    val src = (1L to 60L).map(i => (i, s"u${i % 5}", s"day${(i % 3).toInt}"))
      .toDF("event_id", "user_id", "dt")
    Sources.writeWarehouseTable(src, "events_wh", partitionBy = Seq("dt"))
    val back = Sources.warehouseTable(session, "events_wh")
    assert(back.count() === 60)
    assert(back.schema.map(_.name).toSet === Set("event_id", "user_id", "dt"))
    // catalog knows it and knows its partitions
    assert(session.catalog.tableExists("events_wh"))
    val parts = session.sql("SHOW PARTITIONS events_wh").collect().map(_.getString(0))
    assert(parts.toSet === Set("dt=day0", "dt=day1", "dt=day2"))
    // a partition-key filter prunes at plan level: only one partition's
    // files reach the scan
    val pruned = back.where(col("dt") === "day1")
    assert(pruned.count() === 20)
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("dt"),
      s"dt predicate must prune partitions at the scan, not filter rows:\n${p.take(1500)}")
    session.sql("DROP TABLE events_wh")
  }

  test("bucketed warehouse tables join with zero Exchange on either side") {
    val session = spark
    // co-located join needs both sides bucketed on the join key with
    // the same bucket count; disable auto-broadcast so the plan is the
    // sort-merge join a fact⋈fact pair gets at scale
    val prevThreshold = session.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      session.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val orders = Tables.orders(session, sfTest).select("o_orderkey", "o_custkey", "o_totalprice")
      val cust = Tables.customer(session, sfTest).select("c_custkey", "c_name")
      Sources.writeBucketedTable(orders, "orders_bkt", Seq("o_custkey"), 8, Seq("o_custkey"))
      Sources.writeBucketedTable(cust, "customer_bkt", Seq("c_custkey"), 8, Seq("c_custkey"))
      val joined = Sources.warehouseTable(session, "orders_bkt")
        .join(Sources.warehouseTable(session, "customer_bkt"),
              col("o_custkey") === col("c_custkey"))
        .groupBy("c_name").agg(round(sum("o_totalprice"), 2).as("total"))
      // the join itself must read bucket i ⋈ bucket i with no shuffle;
      // the only Exchange allowed in the whole plan is the groupBy's
      val plan = joined.queryExecution.executedPlan.toString
      val joinPart = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n${plan.take(1200)}")
      assert(!joinPart.contains("Exchange"),
        s"bucketed join must not shuffle either input:\n${joinPart.take(1500)}")
      assert(plan.contains("SelectedBucketsCount"),
        "scan must report bucketed layout use")
      // parity with the plain parquet join
      val direct = orders.join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("c_name").agg(round(sum("o_totalprice"), 2).as("total"))
      assert(joined.orderBy("c_name").collect().toSeq ===
             direct.orderBy("c_name").collect().toSeq)
    } finally {
      session.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      session.sql("DROP TABLE IF EXISTS orders_bkt")
      session.sql("DROP TABLE IF EXISTS customer_bkt")
    }
  }

  test("ORC round-trip preserves schema and values") {
    import graft.sources.Sources
    val path = "target/tmp/orc_roundtrip"
    val src = Tables.lineitem(spark, sfTest)
      .select("l_orderkey", "l_partkey", "l_quantity", "l_returnflag")
      .limit(500)
    Sources.writeOrc(src, path)
    val back = Sources.orc(spark, path)
    assert(back.schema.map(_.name) === src.schema.map(_.name))
    assert(back.count() === 500)
    import org.apache.spark.sql.functions._
    val a = src.agg(sum("l_quantity")).head.getDouble(0)
    val b = back.agg(sum("l_quantity")).head.getDouble(0)
    assert(math.abs(a - b) < 1e-9)
  }

  test("binaryFile source: whole-file rows with glob pruning and byte fidelity") {
    import graft.sources.Sources
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("binsrc")
    val payloads = Map("a.img" -> Array[Byte](1, 2, 3, -128, 127),
                       "b.img" -> Array[Byte](9, 8, 7),
                       "skip.txt" -> Array[Byte](0))
    payloads.foreach { case (n, bytes) =>
      java.nio.file.Files.write(dir.resolve(n), bytes)
    }
    val df = Sources.binaryFiles(spark, dir.toString, glob = "*.img")
    assert(df.schema.fieldNames.toSet ==
      Set("path", "modificationTime", "length", "content"))
    val rows = df.select(element_at(split(col("path"), "/"), -1).as("name"), col("content"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(rows.keySet == Set("a.img", "b.img"), "glob must prune skip.txt at listing")
    assert(rows("a.img").toSeq == payloads("a.img").toSeq, "bytes must survive untouched")
    // size guard filters oversized files out
    assert(Sources.binaryFiles(spark, dir.toString, glob = "*.img",
      maxBytesPerFile = 4).count() == 1)
  }

  test("text source: line rows with file attribution; wholetext flips to file rows") {
    import graft.sources.Sources
    val dir = java.nio.file.Files.createTempDirectory("txtsrc")
    java.nio.file.Files.writeString(dir.resolve("d1.txt"), "alpha\nbeta\n")
    java.nio.file.Files.writeString(dir.resolve("d2.txt"), "gamma\n")
    val lines = Sources.textLines(spark, dir.toString)
    assert(lines.count() == 3)
    assert(lines.where(lines("source_file").contains("d1.txt")).count() == 2)
    val whole = Sources.textLines(spark, dir.toString, wholeFile = true)
    assert(whole.count() == 2)
    val d1 = whole.where(whole("source_file").contains("d1.txt"))
      .head.getAs[String]("value")
    assert(d1 == "alpha\nbeta\n")
  }

  test("malformed CSV: PERMISSIVE quarantines, DROPMALFORMED drops, FAILFAST throws") {
    // the three ingestion policies a crawl loader must choose between —
    // a bad row must never silently corrupt neighbors
    val dir = java.nio.file.Files.createTempDirectory("graft_badcsv")
    java.nio.file.Files.writeString(dir.resolve("rows.csv"),
      "1,alpha,10.5\n2,beta,not_a_number\n3,gamma,30.25\nbroken\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("v", DoubleType), StructField("_corrupt_record", StringType)))
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir.toString).cache()
    assert(permissive.count() == 4, "PERMISSIVE keeps every input row")
    val bad = permissive.where(col("_corrupt_record").isNotNull)
    assert(bad.count() == 2, "both malformed rows are quarantined, no more")
    assert(permissive.where(col("_corrupt_record").isNull)
      .agg(sum("v")).head.getDouble(0) == 40.75, "clean rows parse exactly")
    // CSV column pruning means count() parses nothing — materialize the
    // typed columns so the parser actually exercises the policy
    val dropped = spark.read.schema(StructType(schema.dropRight(1)))
      .option("mode", "DROPMALFORMED").csv(dir.toString)
    assert(dropped.collect().length == 2, "DROPMALFORMED emits only fully-parsed rows")
    val failfast = intercept[org.apache.spark.SparkException] {
      spark.read.schema(StructType(schema.dropRight(1)))
        .option("mode", "FAILFAST").csv(dir.toString).collect()
    }
    assert(failfast.getMessage != null)
    permissive.unpersist()
  }

  test("parquet schema evolution: mergeSchema unions columns across file generations") {
    // generation 1 lacks the column generation 2 adds — the standard
    // long-lived-table drift; mergeSchema must union, not truncate
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.mode("overwrite").parquet(s"$dir/gen=1")
    Seq((3L, "c", 9.5), (4L, "d", 2.5)).toDF("id", "name", "score")
      .write.mode("overwrite").parquet(s"$dir/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "name", "score", "gen"))
    assert(merged.count() == 4)
    assert(merged.where(col("gen") === 1).agg(sum("score")).head.isNullAt(0),
      "pre-evolution rows read the new column as NULL")
    assert(merged.where(col("gen") === 2).agg(sum("score")).head.getDouble(0) == 12.0)
  }

  test("appendBucketedTable: grow-only — resident bucket files are never rewritten") {
    import spark.implicits._
    val t = "graft_test_append_contract"
    graft.sources.Sources.retireTable(spark, t)
    val loc = graft.sources.Sources.serveLocation(spark, t)
    graft.sources.Sources.writeBucketedTable(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      t, Seq("k"), 4, Seq("k"), Some(loc))
    def dataFiles(): Set[(String, Long, Long)] =
      new java.io.File(loc).listFiles().toSeq
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .map(f => (f.getName, f.length, f.lastModified)).toSet
    val before = dataFiles()
    assert(before.nonEmpty)
    graft.sources.Sources.appendBucketedTable(
      Seq((4L, "d"), (5L, "e")).toDF("k", "v"), t, Seq("k"), 4, Seq("k"))
    val after = dataFiles()
    assert(before.subsetOf(after),
      "append rewrote resident bucket files (name/size/mtime changed)")
    assert(after.size > before.size, "append must add new bucket files")
    assert(spark.table(t).count() === 5, "readers must merge resident + appended")
    // compact: the grown table rewritten one file per bucket, same rows
    val c = "graft_test_append_contract_cmp"
    Sources.compact(spark, t, c)
    val cLoc = new java.io.File(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(c)).location)
    val cFiles = cLoc.listFiles().count(f => f.isFile && f.getName.startsWith("part-"))
    assert(cFiles > 0 && cFiles < after.size, s"compact kept $cFiles of ${after.size} files")
    assert(cFiles <= 4, "compact must write at most one file per bucket")
    def rows(table: String) = spark.table(table).as[(Long, String)].collect().sorted.toSeq
    assert(rows(c) === rows(t), "compact must keep every row")
    graft.sources.Sources.retireTable(spark, c)
    graft.sources.Sources.retireTable(spark, t)
  }

  test("serveLocation/retireTable: rebuild retires the previous external location") {
    import spark.implicits._
    val t = "graft_test_retire_contract"
    graft.sources.Sources.retireTable(spark, t)
    val loc1 = graft.sources.Sources.serveLocation(spark, t)
    graft.sources.Sources.writeExternalTable(Seq((1L, "a")).toDF("k", "v"), t, loc1)
    assert(new java.io.File(loc1).exists())
    // rebuild: retire + fresh nonce location — the old dir must be gone
    graft.sources.Sources.retireTable(spark, t)
    assert(!new java.io.File(loc1).exists(),
      "retireTable must delete the previous graft_serve location")
    val loc2 = graft.sources.Sources.serveLocation(spark, t)
    assert(loc2 != loc1, "each build gets a fresh nonce location")
    graft.sources.Sources.writeExternalTable(Seq((2L, "b")).toDF("k", "v"), t, loc2)
    assert(spark.table(t).count() === 1)
    // publish = retire + fresh location + write: plain, then bucketed
    def meta() = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t))
    Sources.publish(Seq((3L, "c"), (4L, "d")).toDF("k", "v"), t)
    val loc3 = meta().location.getPath
    assert(!new java.io.File(loc2).exists(), "publish must retire the previous location")
    assert(loc3.contains("/graft_serve/") && meta().bucketSpec.isEmpty)
    Sources.publish(Seq((5L, "e"), (6L, "f"), (7L, "g")).toDF("k", "v"), t, Seq("k"), 4, Seq("k"))
    assert(!new java.io.File(loc3).exists(), "publish must retire the previous location")
    assert(meta().location.getPath.contains("/graft_serve/"))
    assert(meta().bucketSpec.map(b => (b.numBuckets, b.bucketColumnNames, b.sortColumnNames))
      === Some((4, Seq("k"), Seq("k"))), "a bucketed publish records its bucket spec")
    assert(spark.table(t).count() === 3)
    graft.sources.Sources.retireTable(spark, t)
  }
}
