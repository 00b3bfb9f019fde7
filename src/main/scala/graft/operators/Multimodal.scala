package graft.operators

import graft.{QueryFamily, QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column handling (SURVEY.md §2.10 L5): image/audio/video
  * payloads as opaque binary columns with typed metadata.
  *
  * The fixtures carry no binary columns, so payloads derive
  * deterministically from document text (utf-8 bytes) — the POINT is
  * the Spark-side plumbing: BinaryType flowing through projections,
  * shuffles and aggregates unmangled, and a typed Dataset
  * decode/feature-extract stage whose decode step is a clearly-marked
  * STUB (the real image/audio codecs are not in this container; at
  * production the stub body is the only thing that changes).
  *
  * Scale notes: binary payloads ride the same columnar parquet path as
  * every other column; feature extraction is mapPartitions-shaped
  * (batched, no per-row JVM↔native churn) exactly as a real decoder
  * would want.
  */
object Multimodal extends QueryFamily {

  /** Binary passthrough: cast → slice → hash → length, grouped per
    * source. Proves BinaryType survives scans, projections and
    * aggregation boundaries with byte fidelity (md5 over the bytes is
    * compared cross-engine).
    */
  def binaryPassthrough(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("n_bytes", length(col("payload")))
      .withColumn("head_hash", md5(expr("substring(text, 1, 16)")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_payloads"),
           sum("n_bytes").as("total_bytes"),
           countDistinct(col("head_hash")).as("n_distinct_heads"),
           min("n_bytes").as("min_bytes"),
           max("n_bytes").as("max_bytes"))
      .orderBy("source")

  val binaryPassthroughSql: String =
    """WITH d AS (
      |  SELECT source, text::BLOB AS payload,
      |    octet_length(text::BLOB) AS n_bytes,
      |    md5(substring(text, 1, 16)) AS head_hash
      |  FROM documents
      |)
      |SELECT source, count(*) AS n_payloads,
      |  sum(n_bytes)::BIGINT AS total_bytes,
      |  count(DISTINCT head_hash) AS n_distinct_heads,
      |  min(n_bytes) AS min_bytes,
      |  max(n_bytes) AS max_bytes
      |FROM d
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** Typed record for the decode stage. */
  case class MediaPayload(doc_id: Long, source: String, payload: Array[Byte])

  /** Typed features out of the (stubbed) decoder. */
  case class MediaFeatures(doc_id: Long, source: String, width: Int, height: Int,
                           n_frames: Int, mean_byte: Double)

  /** ===== DECODE STUB =====
    * Stands in for an image/audio decode (no codecs in this container).
    * Deterministic on the payload bytes so results are reproducible; a
    * real implementation swaps ONLY this function body (signature,
    * batching and schema stay).
    */
  def decodeStub(p: MediaPayload): MediaFeatures = {
    val n = p.payload.length
    val sum = p.payload.foldLeft(0L)((s, b) => s + (b & 0xff))
    MediaFeatures(
      doc_id = p.doc_id,
      source = p.source,
      width = 64 + (n % 512),
      height = 64 + ((n * 31) % 512),
      n_frames = 1 + (n % 16),
      mean_byte = if (n == 0) 0.0 else math.round(sum.toDouble / n * 10000).toDouble / 10000)
  }

  /** Decode + feature-extract pipeline over binary payloads via a typed
    * Dataset (Encoder-backed, batched per partition), then a relational
    * rollup of the extracted features. The decode is [[decodeStub]].
    */
  def mediaFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val session = spark
    import session.implicits._
    val payloads = Tables.documents(spark, sfDir)
      // empty payloads are excluded from the QUERY (the oracle's
      // per-char expansion yields no rows for them); decodeStub keeps
      // its n==0 guard for direct library use
      .where(length(col("text")) > 0)
      .select(col("doc_id"), col("source"), col("text").cast("binary").as("payload"))
      .as[MediaPayload]
    payloads
      .mapPartitions(_.map(decodeStub)) // batch-shaped: one decoder init per partition
      .toDF()
      .groupBy("source")
      .agg(count(lit(1)).as("n_media"),
           round(avg("width"), 4).as("avg_width"),
           round(avg("height"), 4).as("avg_height"),
           sum("n_frames").as("total_frames"),
           round(avg("mean_byte"), 4).as("avg_mean_byte"))
      .orderBy("source")
  }

  /** Bytes per (stubbed) frame. */
  val FrameSize = 256
  /** Sample every k-th frame. */
  val FrameStride = 4

  /** Frame sampling over binary payloads: the payload is treated as a
    * sequence of $FrameSize-byte frames; every $FrameStride-th frame is
    * emitted with its byte-range metadata and a content hash of the
    * sampled slice. This is the video-keyframe plumbing with a stub
    * "codec" (fixed-size frames): the generator shape, offset math, and
    * per-frame rows are exactly what a real decoder feeds downstream —
    * only the frame boundary computation changes with a real container
    * format. Generator-only (one output row per sampled frame, no
    * shuffle until the final rollup); corpus text is ASCII (verified at
    * fixture-probe time) so char offsets == byte offsets and the
    * content hash is engine-portable.
    */
  def mediaFrameSample(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("n_bytes", length(col("payload")))
      .withColumn("n_frames", ceil(col("n_bytes") / lit(FrameSize.toDouble)).cast("long"))
      // empty payload ⇒ zero frames: mirror the oracle's empty range(0,0)
      // instead of sequence(0,-1) throwing (round-2 advisor finding)
      .where(col("n_frames") > 0)
    val frames = d.select(col("doc_id"), col("source"), col("n_bytes"), col("text"),
        explode(expr(s"sequence(0, n_frames - 1, $FrameStride)")).as("frame_no"))
      .withColumn("byte_offset", col("frame_no") * FrameSize)
      .withColumn("frame_len", least(lit(FrameSize.toLong), col("n_bytes") - col("byte_offset")))
      .withColumn("frame_hash", md5(expr(s"substring(text, byte_offset + 1, frame_len)")))
    frames.groupBy("source")
      .agg(count(lit(1)).as("n_sampled_frames"),
           countDistinct(col("doc_id")).as("n_docs"),
           sum("frame_len").as("sampled_bytes"),
           countDistinct(col("frame_hash")).as("n_distinct_frames"))
      .orderBy("source")
  }

  val mediaFrameSampleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, text,
       |    octet_length(text::BLOB) AS n_bytes,
       |    ceil(octet_length(text::BLOB) / ${FrameSize.toDouble})::BIGINT AS n_frames
       |  FROM documents
       |), frames AS (
       |  SELECT doc_id, source, n_bytes,
       |    unnest(range(0, n_frames, $FrameStride)) AS frame_no,
       |    text
       |  FROM d
       |), meta AS (
       |  SELECT doc_id, source, frame_no,
       |    frame_no * $FrameSize AS byte_offset,
       |    least($FrameSize, n_bytes - frame_no * $FrameSize) AS frame_len,
       |    md5(substring(text, (frame_no * $FrameSize + 1)::INT, least($FrameSize, n_bytes - frame_no * $FrameSize)::INT)) AS frame_hash
       |  FROM frames
       |)
       |SELECT source, count(*) AS n_sampled_frames,
       |  count(DISTINCT doc_id) AS n_docs,
       |  sum(frame_len)::BIGINT AS sampled_bytes,
       |  count(DISTINCT frame_hash) AS n_distinct_frames
       |FROM meta
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Oracle for the typed-Dataset decode stage: [[decodeStub]] is pure
    * integer + single-division arithmetic on the payload bytes, and the
    * corpus is ASCII (fixture-probed), so DuckDB reproduces the decoder
    * exactly with per-character ascii() sums — the oracle covers the
    * whole decode pipeline, not just row counts. (A real codec would
    * drop this back to rows-only + spec.)
    */
  val mediaFeaturesSql: String =
    """WITH chars AS (
      |  SELECT doc_id, source, len(text) AS n,
      |    unnest(range(1, len(text) + 1)) AS i, text
      |  FROM documents
      |), sums AS (
      |  SELECT doc_id, source, n, sum(ascii(substring(text, i, 1))) AS bsum
      |  FROM chars GROUP BY doc_id, source, n
      |), feats AS (
      |  SELECT doc_id, source,
      |    64 + (n % 512) AS width,
      |    64 + ((n * 31) % 512) AS height,
      |    1 + (n % 16) AS n_frames,
      |    CASE WHEN n = 0 THEN 0.0
      |         ELSE round((bsum::DOUBLE / n) * 10000) / 10000 END AS mean_byte
      |  FROM sums
      |)
      |SELECT source, count(*) AS n_media,
      |  round(avg(width), 4) AS avg_width,
      |  round(avg(height), 4) AS avg_height,
      |  sum(n_frames)::BIGINT AS total_frames,
      |  round(avg(mean_byte), 4) AS avg_mean_byte
      |FROM feats
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** Target size (bytes) of the "thumbnail" produced by resize (small
    * enough that fixture payloads genuinely downsample).
    */
  val ThumbBytes = 64

  /** Resize / downsample stage: each payload is reduced to ≤$ThumbBytes
    * bytes by stride subsampling (stride = ⌈n/$ThumbBytes⌉, keep every
    * stride-th byte) — the deterministic stand-in for an image resize
    * kernel, with the same pipeline shape: per-row map work, a content
    * hash of the resized artifact, and a relational rollup. Like
    * [[decodeStub]], only the kernel body changes with a real codec;
    * the stride math, hashing and rollup are what a production
    * thumbnail stage runs. Corpus is ASCII so char positions == byte
    * offsets and the hash is engine-portable.
    */
  def mediaResize(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .withColumn("n_bytes", length(col("text")))
      .where(col("n_bytes") > 0)
      .withColumn("stride", ceil(col("n_bytes") / lit(ThumbBytes.toDouble)).cast("int"))
      .withColumn("thumb", expr(
        "array_join(transform(sequence(1, int(n_bytes), stride), p -> substring(text, p, 1)), '')"))
      .withColumn("thumb_len", length(col("thumb")))
      .withColumn("thumb_hash", md5(col("thumb")))
    d.groupBy("source")
      .agg(count(lit(1)).as("n_media"),
           round(avg("stride"), 4).as("avg_stride"),
           sum("thumb_len").as("total_thumb_bytes"),
           max("thumb_len").as("max_thumb_bytes"),
           countDistinct(col("thumb_hash")).as("n_distinct_thumbs"))
      .orderBy("source")
  }

  val mediaResizeSql: String =
    s"""WITH d AS (
       |  SELECT source, len(text) AS n_bytes,
       |    ceil(len(text) / ${ThumbBytes.toDouble})::INT AS stride,
       |    text
       |  FROM documents WHERE len(text) > 0
       |), t AS (
       |  SELECT source, stride,
       |    array_to_string(list_transform(range(1, n_bytes + 1, stride),
       |      p -> substring(text, p::INT, 1)), '') AS thumb
       |  FROM d
       |)
       |SELECT source, count(*) AS n_media,
       |  round(avg(stride), 4) AS avg_stride,
       |  sum(len(thumb))::BIGINT AS total_thumb_bytes,
       |  max(len(thumb)) AS max_thumb_bytes,
       |  count(DISTINCT md5(thumb)) AS n_distinct_thumbs
       |FROM t
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Content-hash dedup over binary payloads — the FIRST step of every
    * media pipeline (byte-identical copies of an image/audio file are
    * endemic in crawls, and they are deduped by digest before any
    * decode spends a cycle). Hash the payload map-side (md5 over the
    * bytes), keep the min doc_id per digest globally, and report the
    * per-source removal tally plus the exact bytes reclaimed — the
    * number a storage owner gets told. Grouping ships 32-char digests
    * through the shuffle, never the payloads themselves (the whole
    * point at 100 TB of media). Companion to the text tier
    * [[Dedup]].dedupExact: same survivorship rule, binary modality,
    * byte accounting.
    */
  def mediaDedup(spark: SparkSession, sfDir: String): DataFrame =
    mediaDedupFrom(Tables.documents(spark, sfDir))

  /** Frame-parameterized core — the spec drives it with planted
    * byte-identical duplicates (the fixture only carries raw-byte
    * dups at sf0.1: 8 of 5000). */
  private[graft] def mediaDedupFrom(docs: DataFrame): DataFrame = {
    val d = docs
      .select(col("doc_id"), col("source"), col("text").cast("binary").as("payload"))
      .withColumn("digest", md5(col("payload")))
      .withColumn("n_bytes", length(col("payload")).cast("long"))
      .drop("payload")
    val keep = d.groupBy("digest").agg(min("doc_id").as("keep_id"))
    d.join(keep, Seq("digest"))
      .withColumn("rm", (col("doc_id") =!= col("keep_id")).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_payloads"),
           sum("rm").as("n_removed"),
           sum(col("rm") * col("n_bytes")).as("bytes_saved"),
           countDistinct("digest").as("n_digests"))
      .orderBy("source")
  }

  val mediaDedupSql: String =
    """WITH d AS (
      |  SELECT doc_id, source, md5(text) AS digest,
      |    octet_length(text::BLOB)::BIGINT AS n_bytes
      |  FROM documents
      |), keep AS (
      |  SELECT digest, min(doc_id) AS keep_id FROM d GROUP BY digest
      |)
      |SELECT d.source, count(*)::BIGINT AS n_payloads,
      |  sum(CASE WHEN d.doc_id <> k.keep_id THEN 1 ELSE 0 END)::BIGINT AS n_removed,
      |  sum(CASE WHEN d.doc_id <> k.keep_id THEN d.n_bytes ELSE 0 END)::BIGINT AS bytes_saved,
      |  count(DISTINCT d.digest)::BIGINT AS n_digests
      |FROM d JOIN keep k ON k.digest = d.digest
      |GROUP BY d.source
      |ORDER BY d.source""".stripMargin

  /** Grid cells (= signature bits) of the perceptual aHash. 32 keeps
    * the signature inside the same bit width as [[Dedup.SimBits]], so
    * the near-dup pairs ride the identical k-chunk Hamming-pigeonhole
    * banding (no second banding implementation to maintain). */
  val AHashCells = 32

  /** L5c perceptual near-dup for media — the tier byte-exact md5
    * ([[mediaDedup]]) cannot reach: re-encoded/slightly-perturbed
    * payloads hash to different digests but look the same. Classic
    * aHash shape over the deterministic decode stub: the payload's
    * position space splits into [[AHashCells]] grid cells (the stand-in
    * for an 8×8 grayscale resize — with a real codec only the
    * per-cell "brightness" extraction changes), bit c lights iff cell
    * c's mean byte exceeds the payload's global mean byte — compared
    * as the integer cross-product cell_sum·n > total_sum·cell_len, so
    * the signature is exact on every engine (no float mean). A
    * perturbation touching a few bytes dirties few cells ⇒ small
    * Hamming distance, while md5 flips completely.
    *
    * Pair generation reuses [[Dedup.simhashPairsFromSigs]]'s k-chunk
    * pigeonhole banding verbatim (same 32-bit width, same Hamming ≤
    * [[Dedup.MaxHamming]] exact verify) — candidates come from chunk
    * equi-joins, never an all-pairs scan, so the tier scales exactly
    * as the text SimHash tier does. Each surviving pair carries
    * `is_exact` (byte-identical under md5) to make the perceptual
    * catch visible: `is_exact = 0` rows are precisely what the
    * md5 tier misses.
    *
    * Scale: per-byte cell assignment is the decode stub's cost (a real
    * decoder emits the grid map-side from pixels); everything after
    * the per-doc signature aggregate moves |docs| rows, never payloads.
    */
  def mediaNearDup(spark: SparkSession, sfDir: String): DataFrame =
    // spread: the per-byte cell grid otherwise runs on the small
    // file's single scan task (r13, Tables.spread)
    mediaNearDupFrom(Tables.spread(Tables.documents(spark, sfDir), "doc_id"))

  /** Frame-parameterized core — the spec drives it with a planted
    * stub-perturbed "re-encode" that md5 misses and the grid catches. */
  private[graft] def mediaNearDupFrom(docs: DataFrame): DataFrame = {
    val sigs = aHashSigsFrom(docs)
    val digests = docs
      .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
    Dedup.simhashPairsFromSigs(sigs, Dedup.MaxHamming + 1)
      .join(digests.select(col("doc_id").as("doc_a"), col("digest").as("dig_a")), "doc_a")
      .join(digests.select(col("doc_id").as("doc_b"), col("digest").as("dig_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("hd"),
        (col("dig_a") === col("dig_b")).cast("int").as("is_exact"))
      .orderBy("doc_a", "doc_b")
  }

  /** The [[AHashCells]]-bit grid signatures alone (docs with empty
    * payloads carry no signature, mirroring [[mediaFeatures]]'s
    * exclusion). */
  private[graft] def aHashSigsFrom(docs: DataFrame): DataFrame = {
    val chars = docs
      .where(length(col("text")) > 0)
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("n"))
      .select(col("doc_id"), col("n"), explode(expr("sequence(1, n)")).as("i"), col("text"))
      .select(col("doc_id"),
        expr(s"((i - 1) * ${AHashCells}L) div n").as("cell"),
        expr("cast(ascii(substring(text, int(i), 1)) AS bigint)").as("b"))
    val cells = chars.groupBy("doc_id", "cell")
      .agg(sum("b").as("cell_sum"), count(lit(1)).as("cell_len"))
    val tot = cells.groupBy("doc_id")
      .agg(sum("cell_sum").as("tot"), sum("cell_len").as("nn"))
    cells.join(tot, "doc_id")
      .groupBy("doc_id")
      .agg(sum(when(col("cell_sum") * col("nn") > col("tot") * col("cell_len"),
          expr("shiftleft(1L, int(cell))")).otherwise(0L)).as("sig"))
  }

  val mediaNearDupSql: String =
    s"""WITH ch AS MATERIALIZED (
       |  SELECT doc_id, len(text) AS n, unnest(range(1, len(text) + 1)) AS i, text
       |  FROM documents WHERE len(text) > 0
       |), cells AS MATERIALIZED (
       |  SELECT doc_id, ((i - 1) * ${AHashCells}) // n AS cell,
       |    sum(ascii(substring(text, i::INT, 1)))::BIGINT AS cell_sum,
       |    count(*)::BIGINT AS cell_len
       |  FROM ch GROUP BY 1, 2
       |), tot AS (
       |  SELECT doc_id, sum(cell_sum)::BIGINT AS tot, sum(cell_len)::BIGINT AS nn
       |  FROM cells GROUP BY 1
       |), sigs AS MATERIALIZED (
       |  SELECT c.doc_id,
       |    sum(CASE WHEN c.cell_sum * t.nn > t.tot * c.cell_len
       |        THEN (2::BIGINT ^ c.cell)::BIGINT ELSE 0 END)::BIGINT AS sig
       |  FROM cells c JOIN tot t ON c.doc_id = t.doc_id GROUP BY c.doc_id
       |), dig AS MATERIALIZED (
       |  SELECT doc_id, md5(text) AS digest FROM documents
       |)
       |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  bit_count(xor(x.sig, y.sig)) AS hd,
       |  CASE WHEN dx.digest = dy.digest THEN 1 ELSE 0 END AS is_exact
       |FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
       |JOIN dig dx ON dx.doc_id = x.doc_id
       |JOIN dig dy ON dy.doc_id = y.doc_id
       |WHERE bit_count(xor(x.sig, y.sig)) <= ${Dedup.MaxHamming}
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Canonical-survivor emission for the perceptual tier — the step
    * that completes the media tiering exactly as the text side's
    * [[PipelineOps.canonicalCorpus]] does for SimHash: resolve the
    * aHash near-dup pair graph into connected components (shared
    * min-label/pointer-jump loop), keep ONE survivor per component
    * (min doc_id), pass every unclustered payload through, and report
    * the per-source keep/remove tally with the exact bytes reclaimed
    * (the media flavor adds byte accounting, as [[mediaDedup]] does).
    * Rides the memoized label fixpoint so the iterative loop runs
    * once per session across consumers.
    */
  def mediaCanonical(spark: SparkSession, sfDir: String): DataFrame =
    mediaCanonicalFrom(Tables.documents(spark, sfDir),
      graft.QueryCache.memo(spark, s"multimodal:ahash_labels:$sfDir") {
        PipelineOps.ccLabels(
          mediaNearDupFrom(Tables.documents(spark, sfDir)).select("doc_a", "doc_b"))
      })

  /** Frame-parameterized tally over (docs, component labels) — the
    * spec drives it with the planted perturbed-duplicate frame. */
  private[graft] def mediaCanonicalFrom(docs: DataFrame, labels: DataFrame): DataFrame = {
    val removed = labels.where(col("label") < col("v"))
      .select(col("v").as("doc_id"), lit(1L).as("rm"))
    docs.select(col("doc_id"), col("source"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"))
      .join(removed, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_payloads"),
           sum(coalesce(col("rm"), lit(0L))).as("n_removed"),
           sum(coalesce(col("rm"), lit(0L)) * col("n_bytes")).as("bytes_saved"),
           (count(lit(1)) - sum(coalesce(col("rm"), lit(0L)))).as("n_kept"))
      .orderBy("source")
  }

  /** Oracle: the identical aHash signature chain, pair predicate and
    * transitive closure (WITH RECURSIVE reachability → min-label), so
    * the whole cluster-resolution path is hash-checked, not just the
    * pair list. */
  val mediaCanonicalSql: String =
    s"""WITH RECURSIVE ch AS MATERIALIZED (
       |  SELECT doc_id, len(text) AS n, unnest(range(1, len(text) + 1)) AS i, text
       |  FROM documents WHERE len(text) > 0
       |), cells AS MATERIALIZED (
       |  SELECT doc_id, ((i - 1) * ${AHashCells}) // n AS cell,
       |    sum(ascii(substring(text, i::INT, 1)))::BIGINT AS cell_sum,
       |    count(*)::BIGINT AS cell_len
       |  FROM ch GROUP BY 1, 2
       |), tot AS (
       |  SELECT doc_id, sum(cell_sum)::BIGINT AS tot, sum(cell_len)::BIGINT AS nn
       |  FROM cells GROUP BY 1
       |), sigs AS MATERIALIZED (
       |  SELECT c.doc_id,
       |    sum(CASE WHEN c.cell_sum * t.nn > t.tot * c.cell_len
       |        THEN (2::BIGINT ^ c.cell)::BIGINT ELSE 0 END)::BIGINT AS sig
       |  FROM cells c JOIN tot t ON c.doc_id = t.doc_id GROUP BY c.doc_id
       |), edges AS MATERIALIZED (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
       |  WHERE bit_count(xor(x.sig, y.sig)) <= ${Dedup.MaxHamming}
       |), sym AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM edges
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM edges
       |), reach(src, dst) AS (
       |  SELECT src, dst FROM sym
       |  UNION
       |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
       |), lbl AS (
       |  SELECT src AS v, least(src, min(dst)) AS label FROM reach GROUP BY src
       |)
       |SELECT d.source, count(*) AS n_payloads,
       |  sum(CASE WHEN r.v IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_removed,
       |  sum(CASE WHEN r.v IS NOT NULL
       |      THEN octet_length(d.text::BLOB) ELSE 0 END)::BIGINT AS bytes_saved,
       |  (count(*) - sum(CASE WHEN r.v IS NOT NULL THEN 1 ELSE 0 END))::BIGINT AS n_kept
       |FROM documents d
       |LEFT JOIN (SELECT v FROM lbl WHERE label < v) r ON d.doc_id = r.v
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_media_dedup", mediaDedup _, Some(mediaDedupSql)),
    QuerySpec("q_media_neardup", mediaNearDup _, Some(mediaNearDupSql)),
    QuerySpec("q_media_canonical", mediaCanonical _, Some(mediaCanonicalSql)),
    QuerySpec("q_binary_passthrough", binaryPassthrough _, Some(binaryPassthroughSql)),
    QuerySpec("q_media_features", mediaFeatures _, Some(mediaFeaturesSql)),
    QuerySpec("q_media_frames", mediaFrameSample _, Some(mediaFrameSampleSql)),
    QuerySpec("q_media_resize", mediaResize _, Some(mediaResizeSql)),
  )
}
