package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Non-parquet source/sink surfaces (SURVEY.md §2.1 S2/S3/S5).
  *
  * The reference family loads delimited interaction logs (MovieLens-style
  * `u.data`) and round-trips recommendation tables through an RDBMS.
  * Parquet remains our primary format (the fixtures); these adapters
  * keep the same explicit-schema discipline for the other paths:
  * schemas are DECLARED, never inferred — at 100 TB a schema-inference
  * pass is a full extra scan, and silent type drift breaks downstream
  * queries.
  */
object Sources {

  /** S2 CSV/TSV scan with mandatory explicit schema. `header=false` and
    * a caller-chosen separator mirror the classic ratings-file layout.
    */
  def csv(spark: SparkSession, path: String, schema: StructType,
          sep: String = "\t", header: Boolean = false): DataFrame =
    spark.read
      .schema(schema) // explicit: no inference scan
      .option("sep", sep)
      .option("header", header.toString)
      .option("mode", "FAILFAST") // malformed rows are a pipeline bug, not data
      .csv(path)

  /** S5 CSV sink (tests + interop exports). */
  def writeCsv(df: DataFrame, path: String, sep: String = "\t"): Unit =
    df.write.mode(SaveMode.Overwrite).option("sep", sep).csv(path)

  /** JSON-lines scan, schema-explicit for the same reasons. */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)

  /** ORC scan — Spark's other first-class columnar format (Hive
    * interop). Schema is taken from the file footer like parquet;
    * vectorized read and predicate pushdown apply the same way.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** ORC sink. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** S3 JDBC source — configuration builder for parallel range reads.
    * The partitioning options are the part that matters at scale: each
    * of the `numPartitions` tasks issues its own bounded-range query,
    * instead of one giant result set through a single connection.
    * Callers add vendor specifics (driver class, credentials) and
    * `.load()`. Executed end-to-end in SourcesSpec against embedded
    * Derby (the only DB this container ships — same DataSource v1 JDBC
    * code path MySQL/Postgres would exercise).
    */
  def jdbcReader(spark: SparkSession, url: String, table: String,
                 partitionColumn: String, lowerBound: Long, upperBound: Long,
                 numPartitions: Int): DataFrameReader =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
      .option("fetchsize", 10000)

  /** S3 JDBC sink — the "write top-N recs back to the serving DB"
    * path. `batchsize` turns per-row inserts into batched statements;
    * each input partition writes through its own connection, so the
    * write parallelism is the upstream partitioning (repartition the
    * result down if the DB can't take that many concurrent writers).
    */
  def jdbcWrite(df: DataFrame, url: String, table: String,
                driver: Option[String] = None): Unit = {
    val w = df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", 10000)
      .mode(SaveMode.Overwrite)
    driver.fold(w)(d => w.option("driver", d)).save()
  }

  /** S4 Hive warehouse sink: a managed catalog table, parquet-backed,
    * optionally partitioned. Requires a Hive-enabled session
    * (`enableHiveSupport()` — exercised in SourcesSpec against the
    * embedded-Derby metastore). Partition columns become directory
    * keys, so a downstream filter on them prunes whole partitions at
    * the metastore level before any file is listed — the property that
    * makes a date-partitioned behavior-log table workable at 100 TB.
    */
  def writeWarehouseTable(df: DataFrame, table: String,
                          partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .saveAsTable(table)
  }

  /** S4 Hive warehouse source — the catalog-resolved read. Partition
    * and predicate pruning ride the catalog metadata.
    */
  def warehouseTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Bucketed managed table: rows are hash-distributed into `nBuckets`
    * files per partition by `bucketCols`, and the layout is recorded in
    * the catalog. This is the pre-shuffle that pays for itself: two
    * tables bucketed by the same key with the same bucket count join
    * with ZERO exchange on either side (each task zips bucket i with
    * bucket i), so a fact⋈fact join that would shuffle 100 TB per run
    * shuffles once at write time and never again. `sortCols` addition-
    * ally sorts within each bucket file, letting sort-merge join skip
    * its sorts when one file per bucket is read. SourcesSpec pins the
    * no-Exchange plan on a bucketed orders⋈customer join.
    */
  def writeBucketedTable(df: DataFrame, table: String, bucketCols: Seq[String],
                         nBuckets: Int, sortCols: Seq[String] = Nil,
                         path: Option[String] = None): Unit = {
    val w0 = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    val w1 = if (sortCols.nonEmpty) w0.sortBy(sortCols.head, sortCols.tail: _*) else w0
    // explicit path = EXTERNAL table: the data lives where the caller
    // says (an index-artifact directory), the catalog only records the
    // layout — the shape a build-once/serve-many ANN index needs
    path.fold(w1)(p => w1.option("path", p)).saveAsTable(table)
  }

  /** Plain external catalog table at an explicit location — the
    * unbucketed sibling of [[writeBucketedTable]] for small broadcast
    * artifacts (centroid tables, codebooks). */
  def writeExternalTable(df: DataFrame, table: String, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", path).saveAsTable(table)

  /** APPEND into an existing bucketed external table with the SAME
    * bucket spec — the grow-only contract an incremental index ingest
    * needs: each append writes its own per-bucket files alongside the
    * resident ones (readers merge all files of a bucket), so the
    * resident data is never rewritten or reshuffled. ServeIndexSpec
    * pins that property by file listing. */
  def appendBucketedTable(df: DataFrame, table: String, bucketCols: Seq[String],
                          nBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w0 = df.write.mode(SaveMode.Append).format("parquet")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    val w1 = if (sortCols.nonEmpty) w0.sortBy(sortCols.head, sortCols.tail: _*) else w0
    w1.saveAsTable(table)
  }

  /** Catalog name of a serve table: `graft_<stem>_<tag>`, where the
    * tag (the first four MD5 bytes of `sfDir`, hex) keeps the names
    * unique and deterministic per fixture dir — one session may serve
    * several SFs, and a later JVM sharing the metastore finds the same
    * table under the same name. */
  def serveName(stem: String, sfDir: String): String = {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"graft_${stem}_$tag"
  }

  /** (Re)build a serve table: [[retireTable]] the previous build, then
    * write `df` as an EXTERNAL catalog table at a fresh
    * [[serveLocation]] — bucketed by `bucketCols` into `nBuckets`
    * files (sorted by `sortCols`) when `bucketCols` is non-empty, a
    * plain parquet table otherwise (small broadcast artifacts:
    * centroids, codebooks, tombstone sets). `df` must not read `table`
    * itself: the retire drops it before the write runs. */
  def publish(df: DataFrame, table: String, bucketCols: Seq[String] = Nil,
              nBuckets: Int = 0, sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    retireTable(spark, table)
    val loc = serveLocation(spark, table)
    if (bucketCols.isEmpty) writeExternalTable(df, table, loc)
    else writeBucketedTable(df, table, bucketCols, nBuckets, sortCols, Some(loc))
  }

  /** COMPACT a grown bucketed serve table into `to`: every
    * [[appendBucketedTable]] lands its own per-bucket files, so after
    * many batches a bucket is many fragments. The rewrite keeps
    * `from`'s bucket spec (columns, count, sort) from the catalog,
    * applies `keep` (e.g. a tombstone anti-join that erases rows) and
    * [[publish]]es one file per bucket.
    *
    * A compactor works at the FILE level: it reads `from`'s location
    * as plain parquet. Through the catalog-resolved bucketed scan the
    * planner elides the repartition as redundant against the claimed
    * bucket layout and each input split then writes its own per-bucket
    * files (measured: the "compaction" kept the fragment count). The
    * repartition is ON THE BUCKET COLUMNS with the bucket count —
    * repartition's hash IS the bucket hash (Murmur3 pmod n) — so each
    * task holds exactly one bucket and writes exactly one file. */
  def compact(spark: SparkSession, from: String, to: String,
              keep: DataFrame => DataFrame = identity): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(from))
    val spec = meta.bucketSpec.getOrElse(
      throw new IllegalArgumentException(s"compact: $from is not a bucketed table"))
    val rows = keep(spark.read.parquet(meta.location.toString))
    publish(rows.repartition(spec.numBuckets,
        spec.bucketColumnNames.map(org.apache.spark.sql.functions.col): _*),
      to, spec.bucketColumnNames, spec.numBuckets, spec.sortColumnNames)
  }

  /** Fresh external location for a serve-index table: a stable root
    * under the session's WAREHOUSE path (so a later JVM sharing the
    * metastore never inherits a catalog entry pointing at a cleaned
    * /tmp directory — the r11 advisor's dangling-location hazard),
    * with a per-build nonce segment so two sessions racing on the same
    * deterministic table name never write into each other's directory:
    * the catalog swap at saveAsTable time is atomic, and the loser's
    * orphan nonce dir is reclaimed by the next [[retireTable]]'s
    * sibling sweep (it deletes every nonce dir under the table's
    * graft_serve/<table>/ root, registered or not). */
  def serveLocation(spark: SparkSession, table: String): String = {
    val wh = spark.sessionState.conf.warehousePath.stripPrefix("file:")
    val dir = new java.io.File(new java.io.File(new java.io.File(wh, "graft_serve"), table),
      java.util.UUID.randomUUID.toString.take(8))
    dir.mkdirs()
    dir.getAbsolutePath
  }

  /** Drop a serve table AND delete its previous external location, so
    * each rebuild retires its predecessor's data instead of orphaning
    * it (the r11 advisor's leak). Deletion is restricted to locations
    * under a graft_serve root or the legacy graft_*_serve_ temp-dir
    * prefixes — never an arbitrary user path the catalog might name.
    * For a graft_serve-rooted location the sweep also removes SIBLING
    * nonce dirs under the same graft_serve/<table>/ parent (a crashed
    * or race-losing build's orphan UUID dir the catalog never named —
    * the r12 advisor's slow-leak hazard) and then the emptied parent
    * dir itself, so a retired table leaves no residue at all. */
  def retireTable(spark: SparkSession, table: String): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val cat = spark.sessionState.catalog
    val id = TableIdentifier(table)
    if (cat.tableExists(id)) {
      val loc = scala.util.Try(cat.getTableMetadata(id).location).toOption
      spark.sql(s"DROP TABLE IF EXISTS $table")
      loc.map(u => new java.io.File(u.getPath)).foreach { f =>
        val p = f.getAbsolutePath
        val underServeRoot = p.contains("/graft_serve/")
        val ours = underServeRoot || p.contains("/graft_ivf_serve_") ||
          p.contains("/graft_dedup_serve_") || p.contains("/graft_itemcf_serve_") ||
          p.contains("/graft_ivfing_")
        if (ours && f.exists()) deleteRecursively(f)
        if (underServeRoot) {
          // parent = graft_serve/<table>/ — sweep orphan nonce siblings
          // (all are this table's: the path is namespaced by table name)
          // and drop the parent once empty.
          val parent = f.getParentFile
          if (parent != null && parent.getParentFile != null &&
              parent.getParentFile.getName == "graft_serve") {
            val sibs = parent.listFiles()
            if (sibs != null) sibs.foreach(deleteRecursively)
            parent.delete(): Unit
          }
        }
      }
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Raw-media ingestion (SURVEY.md §2.10 L5): Spark's built-in
    * `binaryFile` source reads whole files as rows of (path,
    * modificationTime, length, content BINARY) — the front door for
    * image/audio/video corpora before the Multimodal decode stage.
    * `pathGlobFilter` prunes at LISTING time (no bytes read for
    * non-matching files); `maxBytesPerFile` guards an executor from a
    * stray multi-GB file. One file = one row: at 100 TB the listing
    * itself is parallelized by the driver, and small-file pressure is
    * the operational concern — pack tiny assets into parquet binary
    * columns (Multimodal's layout) once ingested.
    */
  def binaryFiles(spark: SparkSession, dir: String,
                  glob: String = "*", maxBytesPerFile: Long = 64L << 20): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .where(org.apache.spark.sql.functions.col("length") <= maxBytesPerFile)

  /** Plain-text ingestion: one line per row (`value` STRING) with the
    * originating file attached — the shape a raw text-crawl dump
    * arrives in before any schema exists. `wholetext=true` flips to
    * one file = one row for document-per-file corpora.
    */
  def textLines(spark: SparkSession, path: String,
                wholeFile: Boolean = false): DataFrame =
    spark.read.option("wholetext", wholeFile.toString).text(path)
      .withColumn("source_file",
        org.apache.spark.sql.functions.input_file_name())
}
