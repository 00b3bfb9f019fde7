package graft.operators

import graft.{QueryFamily, QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the documents corpus (SURVEY.md §2.10
  * L4 + the driver's text-analysis mandate): corpus profiling,
  * heuristic language ID, quality scoring, token counting, and
  * positional document fingerprinting. Everything is per-document map
  * work followed by one aggregate — the embarrassingly-parallel shape
  * that scales linearly with corpus size.
  */
object TextAnalysis extends QueryFamily {

  import TextNorm.{normDuck, normSpark}

  /** BPE-family normalization: [[TextNorm]]'s pair plus
    * stripping of the four fold sentinels ('|' symbol joiner, '§'
    * fold-state split, '¶' flush, '¬' rank pad). A corpus word
    * containing a sentinel would corrupt the symbol fold identically
    * in BOTH engines — invisible to the oracle compare — so the
    * sentinels are removed at the shared vocabulary build, making a
    * collision impossible by construction instead of guarded only by
    * a fixture-level test. translate() has identical semantics in
    * Spark and DuckDB (unmatched chars drop), and the strip is a
    * no-op on sentinel-free corpora, so every BPE oracle is unchanged
    * on the fixtures. */
  private val bpeNormSpark = s"translate($normSpark, '|§¶¬', '')"
  private val bpeNormDuck = s"translate($normDuck, '|§¶¬', '')"

  /** English function words used by the n-gram/stopword language
    * heuristic and the quality score. Fixture text is pseudo-English, so
    * the discriminating signal is hit RATE, not identity.
    */
  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with", "by", "at")

  private def stopArraySpark = Stopwords.map(s => s"'$s'").mkString("array(", ", ", ")")
  private def stopListDuck = Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  /** Corpus profile per (lang, source): doc counts, token/char moments.
    * The canonical "know your training data" rollup.
    */
  def textProfile(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("toks", split(expr(normSpark), " "))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
           round(avg(size(col("toks"))), 4).as("avg_tokens"),
           round(avg(length(col("text"))), 4).as("avg_chars"),
           max(size(col("toks"))).as("max_tokens"),
           min(size(col("toks"))).as("min_tokens"))
      .orderBy("lang", "source")

  val textProfileSql: String =
    s"""SELECT lang, source, count(*) AS n_docs,
       |  round(avg(len(string_split($normDuck, ' '))), 4) AS avg_tokens,
       |  round(avg(length(text)), 4) AS avg_chars,
       |  max(len(string_split($normDuck, ' '))) AS max_tokens,
       |  min(len(string_split($normDuck, ' '))) AS min_tokens
       |FROM documents
       |GROUP BY lang, source
       |ORDER BY lang, source""".stripMargin

  /** Heuristic language ID: distinct-stopword hit rate ≥ threshold ⇒
    * 'en-like', else 'other'; confusion matrix against the labeled lang
    * column. (On pseudo-English fixture text every lang bucket scores
    * en-like — the matrix SHOWS that rather than assuming it.)
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("toks", split(expr(normSpark), " "))
      .withColumn("hits", size(array_intersect(col("toks"), expr(stopArraySpark))))
      .withColumn("predicted",
        when(col("hits") >= 3, lit("en-like")).otherwise(lit("other")))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n_docs"),
           round(avg(col("hits")), 4).as("avg_stopword_hits"))
      .orderBy("lang", "predicted")

  val langIdSql: String =
    s"""WITH d AS (
       |  SELECT lang,
       |    len(list_intersect(string_split($normDuck, ' '), $stopListDuck)) AS hits
       |  FROM documents
       |)
       |SELECT lang,
       |  CASE WHEN hits >= 3 THEN 'en-like' ELSE 'other' END AS predicted,
       |  count(*) AS n_docs,
       |  round(avg(hits), 4) AS avg_stopword_hits
       |FROM d
       |GROUP BY 1, 2
       |ORDER BY lang, predicted""".stripMargin

  /** Per-document scored frame shared by the decile histogram and the
    * token-budget selector: (doc_id, source, n_toks, sw_rate, awl,
    * score) with the 6dp-rounded composite quality score. */
  private[graft] def qualityScored(spark: SparkSession, sfDir: String): DataFrame =
    // spread: the tokenize-and-score chain otherwise runs on the small
    // file's single scan task (r13, Tables.spread)
    Tables.spread(Tables.documents(spark, sfDir), "doc_id")
      .withColumn("toks", split(expr(normSpark), " "))
      .withColumn("n_toks", size(col("toks")))
      .withColumn("sw_rate",
        expr(s"size(filter(toks, t -> array_contains($stopArraySpark, t))) / cast(n_toks AS double)"))
      .withColumn("awl", expr("length(concat_ws('', toks)) / cast(n_toks AS double)"))
      .withColumn("score", round(
        lit(0.4) * least(col("n_toks") / lit(200.0), lit(1.0)) +
        lit(0.3) * least(col("sw_rate") / lit(0.08), lit(1.0)) +
        lit(0.3) * greatest(lit(0.0), lit(1.0) - abs(col("awl") - lit(5.0)) / lit(5.0)), 6))

  /** Quality score in [0,1]: 0.4·length component (tokens/200 capped)
    * + 0.3·stopword occurrence rate (capped at 3× an 8% target)
    * + 0.3·mean-word-length closeness to 5 chars. Emitted as a decile
    * histogram with component means — the shape a filtering pipeline
    * thresholds on.
    */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val d = qualityScored(spark, sfDir)
    d.withColumn("decile", least(floor(col("score") * 10), lit(9L)))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
           round(avg("score"), 6).as("avg_score"),
           round(avg("sw_rate"), 6).as("avg_sw_rate"),
           round(avg("awl"), 6).as("avg_word_len"))
      .orderBy("decile")
  }

  val qualityScoreSql: String =
    s"""WITH d AS (
       |  SELECT string_split($normDuck, ' ') AS toks FROM documents
       |), m AS (
       |  SELECT len(toks) AS n_toks,
       |    len(list_filter(toks, t -> list_contains($stopListDuck, t))) / len(toks)::DOUBLE AS sw_rate,
       |    length(array_to_string(toks, '')) / len(toks)::DOUBLE AS awl
       |  FROM d
       |), s AS (
       |  SELECT n_toks, sw_rate, awl,
       |    round(0.4 * least(n_toks / 200.0, 1.0)
       |        + 0.3 * least(sw_rate / 0.08, 1.0)
       |        + 0.3 * greatest(0.0, 1.0 - abs(awl - 5.0) / 5.0), 6) AS score
       |  FROM m
       |)
       |SELECT least(floor(score * 10)::BIGINT, 9) AS decile,
       |  count(*) AS n_docs,
       |  round(avg(score), 6) AS avg_score,
       |  round(avg(sw_rate), 6) AS avg_sw_rate,
       |  round(avg(awl), 6) AS avg_word_len
       |FROM s
       |GROUP BY 1
       |ORDER BY decile""".stripMargin

  /** Share of the corpus token mass the budget admits, percent. */
  val BudgetPct = 20L

  /** Budgeted curation — "give me the best N tokens": keep documents
    * in descending quality order until the cumulative token count
    * crosses [[BudgetPct]]% of the corpus mass (the boundary document
    * is admitted — the greedy-prefix rule, identical in the oracle).
    * THE selection every pretraining run makes once a quality score
    * exists; thresholding by score ([[qualityScore]]'s deciles) can't
    * hit a token target, only a rank cut can.
    *
    * The cut is found WITHOUT a global sort: cumulative-token
    * prefixes come from [[RankPrefix.before]] over the negated
    * 1e6-fixed-point score (by-score aggregation bounded by the score
    * domain; within-cell windows; broadcast cell offsets; within-score
    * per-doc cumulative ordered by doc_id — worst case one task scans
    * one tied score's docs). A document is kept
    * iff the token mass strictly before it is under budget — exact
    * BIGINT arithmetic end to end.
    */
  def tokenBudget(spark: SparkSession, sfDir: String): DataFrame =
    tokenBudgetOf(qualityScored(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_toks").cast("long").as("toks"),
              round(col("score") * 1e6).cast("long").as("sfp"))
      // r10 rescan sever: the slim 4-col scored frame has EIGHT
      // downstream consumers (budget total, by-score aggregate and its
      // RankPrefix min/max, cell totals and offsets, the final keep
      // join) — without the sever each re-plans the whole
      // tokenize-and-score corpus chain (documents ×8 in the r9 plan)
      .localCheckpoint(),
      BudgetPct)

  /** Frame-parameterized core over ANY (doc_id, source, toks, sfp)
    * frame — the scale spec drives it with a synthesized million-doc
    * corpus with a wide score domain. */
  private[graft] def tokenBudgetOf(d: DataFrame, budgetPct: Long): DataFrame = {
    val bDf = d.agg(expr(s"(sum(toks) * $budgetPct) div 100").as("budget"))
    // best score first: the prefix runs over the negated score
    val keyPrev = RankPrefix.before(
        d.groupBy("sfp").agg(sum("toks").as("ktoks")).withColumn("neg_sfp", -col("sfp")),
        Nil, "neg_sfp", "ktoks")
      .select(col("sfp"), col("ktoks_before").as("prev_key_toks"))
    val wTie = Window.partitionBy("sfp").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    d.join(keyPrev, "sfp").crossJoin(broadcast(bDf))
      .withColumn("prev_in_key", coalesce(sum("toks").over(wTie), lit(0L)))
      .withColumn("kept",
        (col("prev_key_toks") + col("prev_in_key") < col("budget")).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("kept").as("n_kept"),
           sum(col("kept") * col("toks")).as("kept_tokens"),
           max("budget").as("budget_tokens"))
      .orderBy("source")
  }

  /** The per-doc scored frame's oracle CTE (`sd` with doc_id, source,
    * n_toks, score) — ONE definition of [[qualityScored]]'s SQL
    * replay, spliced into every oracle that consumes per-doc scores
    * (q_token_budget, q_filter_kappa). */
  private[graft] val qualityScoredSql: String =
    s"""sd AS (
       |  SELECT doc_id, source, n_toks,
       |    round(0.4 * least(n_toks / 200.0, 1.0)
       |        + 0.3 * least(sw_rate / 0.08, 1.0)
       |        + 0.3 * greatest(0.0, 1.0 - abs(awl - 5.0) / 5.0), 6) AS score
       |  FROM (
       |    SELECT doc_id, source, len(toks) AS n_toks,
       |      len(list_filter(toks, t -> list_contains($stopListDuck, t))) / len(toks)::DOUBLE AS sw_rate,
       |      length(array_to_string(toks, '')) / len(toks)::DOUBLE AS awl
       |    FROM (SELECT doc_id, source, string_split($normDuck, ' ') AS toks FROM documents)
       |  )
       |)""".stripMargin

  val tokenBudgetSql: String =
    s"""WITH $qualityScoredSql, d AS (
       |  SELECT doc_id, source, n_toks::BIGINT AS toks,
       |    round(score * 1000000)::BIGINT AS sfp
       |  FROM sd
       |), b AS (
       |  SELECT ((sum(toks) * $BudgetPct) // 100)::BIGINT AS budget FROM d
       |), cum AS (
       |  SELECT source, toks,
       |    coalesce(sum(toks) OVER (ORDER BY sfp DESC, doc_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_prev
       |  FROM d
       |)
       |SELECT source, count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN cum_prev < b.budget THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  sum(CASE WHEN cum_prev < b.budget THEN toks ELSE 0 END)::BIGINT AS kept_tokens,
       |  max(b.budget)::BIGINT AS budget_tokens
       |FROM cum, b GROUP BY source
       |ORDER BY source""".stripMargin

  /** Token counting two ways: whitespace tokens and a BPE-ish subword
    * count (≤4-char greedy chunks via regex — a deterministic stand-in
    * for a real tokenizer's token count). Per-source aggregate.
    */
  def tokenStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("n_ws", size(split(expr(normSpark), " ")))
      .withColumn("n_bpe", size(expr(s"regexp_extract_all($normSpark, '[a-z0-9]{1,4}', 0)")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_ws").as("total_ws_tokens"),
           sum("n_bpe").as("total_bpe_tokens"),
           round(avg(col("n_bpe") / col("n_ws")), 4).as("bpe_per_word"))
      .orderBy("source")

  val tokenStatsSql: String =
    s"""WITH d AS (
       |  SELECT source,
       |    len(string_split($normDuck, ' ')) AS n_ws,
       |    len(regexp_extract_all($normDuck, '[a-z0-9]{1,4}')) AS n_bpe
       |  FROM documents
       |)
       |SELECT source, count(*) AS n_docs,
       |  sum(n_ws)::BIGINT AS total_ws_tokens,
       |  sum(n_bpe)::BIGINT AS total_bpe_tokens,
       |  round(avg(n_bpe / n_ws::DOUBLE), 4) AS bpe_per_word
       |FROM d
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Fingerprint modulus (2^31 − 1). */
  val FpMod = 2147483647L

  /** Positional document fingerprint: Σ position·h32(token) mod
    * (2^31−1) — an order-sensitive rolling-hash analogue in pure SQL
    * (re-ordered tokens change the fingerprint; bag-of-words does not
    * distinguish them). Also reports per-source fingerprint collisions.
    */
  def docFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
              posexplode(split(expr(normSpark), " ")).as(Seq("pos", "tok")))
      .withColumn("h", expr("cast(conv(substring(md5(tok), 1, 8), 16, 10) AS bigint)"))
    val fps = toks.groupBy("doc_id", "source")
      .agg((sum((col("pos") + 1) * col("h")) % FpMod).as("fingerprint"))
    fps.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("fingerprint")).as("n_distinct_fp"),
           min("fingerprint").as("min_fp"),
           max("fingerprint").as("max_fp"))
      .orderBy("source")
  }

  val docFingerprintSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |    generate_subscripts(string_split($normDuck, ' '), 1) AS pos,
       |    unnest(string_split($normDuck, ' ')) AS tok
       |  FROM documents
       |), fps AS (
       |  SELECT doc_id, source,
       |    (sum(pos * (('0x' || substr(md5(tok), 1, 8))::BIGINT)) % $FpMod)::BIGINT AS fingerprint
       |  FROM toks
       |  GROUP BY doc_id, source
       |)
       |SELECT source, count(*) AS n_docs,
       |  count(DISTINCT fingerprint) AS n_distinct_fp,
       |  min(fingerprint) AS min_fp,
       |  max(fingerprint) AS max_fp
       |FROM fps
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Email/phone patterns for the PII scrub. `[.]` character classes
    * instead of `\.` keep the pattern byte-identical across the Java
    * (Spark) and RE2 (DuckDB) regex dialects with zero escaping.
    */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  val PhonePat = "[0-9]{2}-[0-9]{4}-[0-9]{4}"

  /** PII redaction — the compliance pass every training-data pipeline
    * runs before text leaves the ingest zone. The fixture corpus
    * carries no PII, so the query first builds a deterministic customer
    * profile string (name + synthesized e-mail + synthesized phone,
    * all derived from fixture columns) and then runs the actual
    * operator under test: global regex redaction of e-mail and phone
    * spans, with per-segment redaction counts and an exact checksum of
    * the scrubbed text proving byte-identical output cross-engine.
    * Pure per-row map work + one aggregate — linear at any scale.
    */
  def piiScrub(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .withColumn("profile", concat(
        col("c_name"), lit(" <"),
        lower(regexp_replace(col("c_name"), "#", "")), lit("@example.com> tel "),
        lpad(col("c_nationkey").cast("string"), 2, "0"), lit("-"),
        lpad((col("c_custkey") % 10000).cast("string"), 4, "0"), lit("-"),
        lpad((col("c_custkey") % 997).cast("string"), 4, "0"),
        lit(" segment "), col("c_mktsegment")))
      .withColumn("n_email", regexp_count(col("profile"), lit(EmailPat)))
      .withColumn("n_phone", regexp_count(col("profile"), lit(PhonePat)))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col("profile"), EmailPat, "[EMAIL]"), PhonePat, "[PHONE]"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
           sum("n_email").as("emails_redacted"),
           sum("n_phone").as("phones_redacted"),
           sum(length(col("profile")) - length(col("scrubbed"))).as("bytes_removed"),
           sum(expr("cast(conv(substring(md5(scrubbed), 1, 8), 16, 10) AS bigint)"))
             .as("scrub_checksum"))
      .orderBy("c_mktsegment")

  val piiScrubSql: String =
    s"""WITH p AS (
       |  SELECT c_mktsegment,
       |    c_name || ' <' || lower(regexp_replace(c_name, '#', '', 'g')) || '@example.com> tel '
       |      || lpad(c_nationkey::VARCHAR, 2, '0') || '-'
       |      || lpad((c_custkey % 10000)::VARCHAR, 4, '0') || '-'
       |      || lpad((c_custkey % 997)::VARCHAR, 4, '0')
       |      || ' segment ' || c_mktsegment AS profile
       |  FROM customer
       |), s AS (
       |  SELECT c_mktsegment, profile,
       |    len(regexp_extract_all(profile, '$EmailPat')) AS n_email,
       |    len(regexp_extract_all(profile, '$PhonePat')) AS n_phone,
       |    regexp_replace(regexp_replace(profile, '$EmailPat', '[EMAIL]', 'g'),
       |                   '$PhonePat', '[PHONE]', 'g') AS scrubbed
       |  FROM p
       |)
       |SELECT c_mktsegment, count(*) AS n_customers,
       |  sum(n_email)::BIGINT AS emails_redacted,
       |  sum(n_phone)::BIGINT AS phones_redacted,
       |  sum(len(profile) - len(scrubbed))::BIGINT AS bytes_removed,
       |  sum(('0x' || substr(md5(scrubbed), 1, 8))::BIGINT)::BIGINT AS scrub_checksum
       |FROM s
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin

  /** Bigram language-model quality score (the CCNet idea: score text by
    * a corpus LM; low log-likelihood = out-of-distribution text). The
    * corpus itself is the training set: P(w2|w1) = c(w1,w2)/c(w1,·) by
    * MLE, each document scored by its mean bigram log-likelihood, then
    * rolled up per source with the perplexity of the (rounded) mean.
    * Counts are exact integers; ln/exp are applied once per value, so
    * 6 dp rounding is engine-stable. The bigram model join broadcasts
    * here (bounded vocab); an open-vocab corpus would hash-join on w1
    * and the plan shape is otherwise unchanged.
    */
  def bigramLm(spark: SparkSession, sfDir: String): DataFrame = {
    val docLl = docBigramLl(spark, sfDir)
    docLl.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_bi").as("n_bigrams"),
           round(avg("ll"), 6).as("avg_ll"))
      .withColumn("perplexity", round(exp(-col("avg_ll")), 4))
      .orderBy("source")
  }

  /** Per-doc mean bigram log-likelihood under the corpus MLE model —
    * shared by [[bigramLm]] (per-source rollup) and
    * [[qualityCurriculum]] (quintile bucketing). Returns
    * (doc_id, source, ll, n_bi); n_bi + 1 = the doc's token count,
    * since the model is built from the same corpus so every bigram
    * matches. */
  private def docBigramLl(spark: SparkSession, sfDir: String): DataFrame = {
    val bi = Tables.spread(Tables.documents(spark, sfDir), "doc_id")
      .select(col("doc_id"), col("source"), split(expr(normSpark), " ").as("ts"))
      // single-token docs have no bigrams: Spark's sequence(1, 0) would
      // throw where DuckDB's range(1, 1) is just empty — filter first
      .where(size(col("ts")) >= 2)
      .select(col("doc_id"), col("source"),
        explode(expr("transform(sequence(1, size(ts) - 1), i -> struct(ts[i-1] AS w1, ts[i] AS w2))")).as("b"))
      .select(col("doc_id"), col("source"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    // r11 rescan sever: the model is ONE corpus aggregate. The head
    // count is the row-sum of the pair counts (same-corpus MLE —
    // every bigram with head w1 is counted in exactly one (w1, w2)
    // cell), so c1 derives from the vocab²-bounded pairC, which is
    // severed once so its two readers don't re-plan the corpus chain
    val pairC = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    val headC = pairC.groupBy("w1").agg(sum("c12").as("c1"))
    val model = broadcast(pairC.join(headC, "w1")
      .select(col("w1"), col("w2"), col("c12"), col("c1")))
    bi.join(model, Seq("w1", "w2"))
      .groupBy("doc_id", "source")
      .agg(avg(log(col("c12") / col("c1"))).as("ll"), count(lit(1)).as("n_bi"))
  }

  /** Shared CTE block producing doc_ll — same text both oracles use. */
  private val docLlCte: String =
    s"""d AS (
       |  SELECT doc_id, source, string_split($normDuck, ' ') AS ts FROM documents
       |), bi AS (
       |  SELECT doc_id, source, ts[i] AS w1, ts[i + 1] AS w2
       |  FROM d, unnest(range(1, len(ts))) AS t(i)
       |), pair_c AS MATERIALIZED (
       |  SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2
       |), head_c AS (
       |  SELECT w1, sum(c12)::BIGINT AS c1 FROM pair_c GROUP BY w1
       |), doc_ll AS (
       |  SELECT doc_id, source, avg(ln(c12 / c1::DOUBLE)) AS ll, count(*) AS n_bi
       |  FROM bi JOIN pair_c USING (w1, w2) JOIN head_c USING (w1)
       |  GROUP BY doc_id, source
       |)""".stripMargin

  /** Curriculum buckets. */
  val CurriculumBuckets = 5

  /** Quality-curriculum histogram — docs bucketed into
    * [[CurriculumBuckets]] quintiles of (rounded) LM log-likelihood,
    * the schedule table a quality-curriculum training run reads
    * (lowest-likelihood bucket = hardest/noisiest slice; mass per
    * bucket tells you what a quality-ascending epoch order costs).
    * Bucketing uses ntile over 6dp-ROUNDED ll with doc_id tie-break,
    * so boundary docs land identically on both engines. Per bucket:
    * doc count, ll range, token mass, sources represented.
    *
    * Scale: bucket assignment goes through [[Relational.quartileScore]]'s
    * distributed exact rank ([[RankPrefix.before]] over the
    * 6dp-fixed-point ll key + [[RankPrefix.ntileBucket]]) — the r6 rfm
    * lesson applied here: the previous global `ntile` window funneled
    * the whole corpus through one task. The 1e6 fixed-point key is
    * round()ed, not truncated, so equal 6dp scores share a key and
    * distinct ones never collide; output is bit-identical to the
    * oracle's ntile.
    */
  def qualityCurriculum(spark: SparkSession, sfDir: String): DataFrame = {
    // quartileScore references its input ~4 times (value aggregate,
    // rank join, tie window); the bigram-LM scoring upstream is the
    // expensive part, so sever it once instead of recomputing per
    // reference (5.0 s → sub-second at sf0.1)
    val q0 = docBigramLl(spark, sfDir).withColumn("rll", round(col("ll"), 6))
      .localCheckpoint()
    val q = Relational.quartileScore(q0,
      round(col("rll") * 1e6, 0).cast("long"), "bucket", col("doc_id"),
      buckets = CurriculumBuckets)
    q.groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
           round(min("rll"), 6).as("min_ll"),
           round(max("rll"), 6).as("max_ll"),
           sum(col("n_bi") + 1).as("n_tokens"),
           countDistinct("source").as("n_sources"))
      .orderBy("bucket")
  }

  val qualityCurriculumSql: String =
    s"""WITH $docLlCte, q AS (
       |  SELECT doc_id, source, n_bi, round(ll, 6) AS rll FROM doc_ll
       |), b AS (
       |  SELECT *, ntile($CurriculumBuckets) OVER (ORDER BY rll ASC, doc_id ASC) AS bucket FROM q
       |)
       |SELECT bucket, count(*) AS n_docs,
       |  round(min(rll), 6) AS min_ll, round(max(rll), 6) AS max_ll,
       |  sum(n_bi + 1)::BIGINT AS n_tokens,
       |  count(DISTINCT source) AS n_sources
       |FROM b
       |GROUP BY bucket
       |ORDER BY bucket""".stripMargin

  val bigramLmSql: String =
    s"""WITH $docLlCte
       |SELECT source, count(*) AS n_docs,
       |  sum(n_bi)::BIGINT AS n_bigrams,
       |  round(avg(ll), 6) AS avg_ll,
       |  round(exp(-round(avg(ll), 6)), 4) AS perplexity
       |FROM doc_ll
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Word-trigram builder, shared by the repetition and contamination
    * queries: the codegen [[graft.functions.Shingles]] pass (byte-identical
    * to the HOF `transform(sequence, i -> concat_ws(' ', toks[i..i+2]))`
    * formulation, which it replaces: predicate pushdown inlines the
    * filter/Generate guards through the projections, and the inlined HOF
    * re-evaluated `split(regexp_replace(text))` PER TOKEN ACCESS —
    * O(len²) interpreted regex work per row, 12 s at sf0.1 for the
    * contamination scan alone; the single-pass expression makes each
    * inlined copy one O(len) eval). The DuckDB twin is 1-based; both
    * emit exactly len−2 trigrams per document.
    */
  private def trigrams(toks: Column): Column = graft.functions.Shingles.shingles(toks, 3)
  private val trigramsDuck =
    "list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"

  /** A doc whose duplicate-trigram fraction exceeds this is flagged
    * repetitive (Gopher uses per-n-gram thresholds of this magnitude).
    */
  val RepThreshold = 0.2

  /** Within-document repetition signals (the Gopher/MassiveText quality
    * gate): duplicate-token fraction (1 − distinct/total tokens) and
    * duplicate-trigram fraction per document, rolled up per source with
    * a count of docs over [[RepThreshold]]. Pure per-row map work + one
    * aggregate — linear at any corpus scale, no shuffle before the
    * final per-source rollup. The fractions are single divisions of
    * exact integers, so the threshold comparison is engine-stable.
    */
  def repetition(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("toks", split(expr(normSpark), " "))
      .where(size(col("toks")) >= 3)
      .withColumn("dup_tok_frac",
        lit(1.0) - size(array_distinct(col("toks"))) / size(col("toks")).cast("double"))
      .withColumn("tris", trigrams(col("toks")))
      .withColumn("dup_tri_frac",
        lit(1.0) - size(array_distinct(col("tris"))) / size(col("tris")).cast("double"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           round(avg("dup_tok_frac"), 6).as("avg_dup_tok_frac"),
           round(avg("dup_tri_frac"), 6).as("avg_dup_tri_frac"),
           round(max("dup_tri_frac"), 6).as("max_dup_tri_frac"),
           sum(when(col("dup_tri_frac") > RepThreshold, 1L).otherwise(0L)).as("n_repetitive"))
      .orderBy("source")

  val repetitionSql: String =
    s"""WITH d AS (
       |  SELECT source, string_split($normDuck, ' ') AS toks FROM documents
       |), m AS (
       |  SELECT source,
       |    1.0 - len(list_distinct(toks)) / len(toks)::DOUBLE AS dup_tok_frac,
       |    1.0 - len(list_distinct($trigramsDuck)) / (len(toks) - 2)::DOUBLE AS dup_tri_frac
       |  FROM d WHERE len(toks) >= 3
       |)
       |SELECT source, count(*) AS n_docs,
       |  round(avg(dup_tok_frac), 6) AS avg_dup_tok_frac,
       |  round(avg(dup_tri_frac), 6) AS avg_dup_tri_frac,
       |  round(max(dup_tri_frac), 6) AS max_dup_tri_frac,
       |  sum(CASE WHEN dup_tri_frac > $RepThreshold THEN 1 ELSE 0 END)::BIGINT AS n_repetitive
       |FROM m
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Every EvalMod-th doc_id forms the synthetic held-out benchmark. */
  val EvalMod = 19
  /** A train doc with ≥ this fraction of its trigrams in the eval set
    * is flagged contaminated.
    */
  val ContamThreshold = 0.05

  /** Benchmark-contamination check (the decontamination pass every
    * training corpus runs before release): a deterministic ~5% of docs
    * (doc_id % [[EvalMod]] = 0) plays the role of the eval benchmark;
    * for every remaining train doc, the fraction of its DISTINCT word
    * trigrams that appear anywhere in the eval set, rolled up per
    * source with a flag count. Scale shape: the eval n-gram set is
    * benchmark-sized (small) and BROADCASTS to the linear scan of the
    * corpus — the 100 TB side is never shuffled, and the per-doc
    * aggregate rides the explode's existing partitioning.
    */
  def contamination(spark: SparkSession, sfDir: String): DataFrame = {
    // no size(toks) >= 3 guard: shingles emits an empty array for short
    // docs and the explode drops them — same rows out, one less
    // inlined split+regex eval in the pushed-down scan filter
    val docs = Tables.documents(spark, sfDir)
      .withColumn("toks", split(expr(normSpark), " "))
      .withColumn("grams", array_distinct(trigrams(col("toks"))))
    val evalGrams = docs.where(col("doc_id") % EvalMod === 0)
      .select(explode(col("grams")).as("gram")).distinct()
      .withColumn("hit", lit(1L))
    val perDoc = docs.where(col("doc_id") % EvalMod =!= 0)
      .select(col("doc_id"), col("source"), explode(col("grams")).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"), "left")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_grams"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("frac", col("n_hit") / col("n_grams").cast("double"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           round(avg("frac"), 6).as("avg_contamination"),
           round(max("frac"), 6).as("max_contamination"),
           sum(when(col("frac") >= ContamThreshold, 1L).otherwise(0L)).as("n_contaminated"))
      .orderBy("source")
  }

  val contaminationSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, string_split($normDuck, ' ') AS toks FROM documents
       |), g AS (
       |  SELECT doc_id, source, list_distinct($trigramsDuck) AS grams
       |  FROM d WHERE len(toks) >= 3
       |), eval_grams AS (
       |  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % $EvalMod = 0
       |), train AS (
       |  SELECT doc_id, source, unnest(grams) AS gram FROM g WHERE doc_id % $EvalMod <> 0
       |), per_doc AS (
       |  SELECT t.doc_id, t.source,
       |    count(*) AS n_grams,
       |    sum(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
       |  FROM train t LEFT JOIN eval_grams e ON t.gram = e.gram
       |  GROUP BY t.doc_id, t.source
       |)
       |SELECT source, count(*) AS n_docs,
       |  round(avg(n_hit / n_grams::DOUBLE), 6) AS avg_contamination,
       |  round(max(n_hit / n_grams::DOUBLE), 6) AS max_contamination,
       |  sum(CASE WHEN n_hit / n_grams::DOUBLE >= $ContamThreshold THEN 1 ELSE 0 END)::BIGINT AS n_contaminated
       |FROM per_doc
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** BM25 parameters (Robertson/Spärck Jones; Lucene's idf variant,
    * which is strictly positive). k1 written as the folded 2.2 = k1+1
    * where it appears multiplicatively so both engines parse the same
    * literal.
    */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  /** Fixed query — tokens from the fixture vocabulary. */
  val Bm25Query: Seq[String] = Seq("table", "scan", "merge", "key")
  /** Docs returned. */
  val Bm25Top = 20

  /** BM25 document ranking for a fixed term query — the retrieval
    * scorer TF-IDF feeds in practice (doc-length-normalized, saturating
    * tf). Per-term contributions are computed once, converted to 1e-9
    * fixed-point BIGINTs, and SUMMED AS INTEGERS, so the per-doc score
    * is bit-identical on any engine and any partitioning (float sums of
    * 4 terms would otherwise depend on aggregation order).
    *
    * Scale shape: tf extraction is per-row map work over the corpus
    * scan (terms ride as a tiny exploded literal array); df and the
    * corpus stats are 1-row/|terms|-row broadcast aggregates; the final
    * top-K is a TakeOrderedAndProject, never a full sort.
    */
  def bm25Rank(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = Bm25Query.map(t => s"'$t'").mkString("array(", ", ", ")")
    val m = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), split(expr(normSpark), " ").as("toks"))
      .withColumn("dl", size(col("toks")))
    val st = m.agg(count(lit(1)).as("n"), sum("dl").as("sumdl"))
    val hit = m.select(col("doc_id"), col("source"), col("dl"), col("toks"),
        explode(expr(terms)).as("term"))
      .withColumn("tf", expr("size(filter(toks, x -> x = term))"))
      .where(col("tf") > 0)
      .drop("toks")
    val df = hit.groupBy("term").agg(count(lit(1)).as("df"))
    val contrib = hit
      .join(broadcast(df), "term")
      .crossJoin(broadcast(st))
      .withColumn("avgdl", col("sumdl").cast("double") / col("n"))
      .withColumn("idf", log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("fp", round(col("idf") * (col("tf") * 2.2) /
        (col("tf") + lit(Bm25K1) * (lit(1.0) - lit(Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))
        * 1e9).cast("long"))
    val scored = contrib.groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_terms_hit"),
           round(sum("fp") / 1e9, 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(Bm25Top)
    scored.withColumn("rk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)))
      .select("rk", "doc_id", "source", "n_terms_hit", "score")
      .orderBy("rk")
  }

  val bm25RankSql: String = {
    val termList = Bm25Query.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""WITH m AS (
       |  SELECT doc_id, source, string_split($normDuck, ' ') AS toks,
       |    len(string_split($normDuck, ' ')) AS dl
       |  FROM documents
       |), st AS (
       |  SELECT count(*) AS n, sum(dl)::BIGINT AS sumdl FROM m
       |), hit AS (
       |  SELECT m.doc_id, m.source, m.dl, t.term,
       |    len(list_filter(m.toks, x -> x = t.term)) AS tf
       |  FROM m CROSS JOIN (SELECT unnest($termList) AS term) t
       |  WHERE len(list_filter(m.toks, x -> x = t.term)) > 0
       |), df AS (
       |  SELECT term, count(*) AS df FROM hit GROUP BY term
       |), contrib AS (
       |  SELECT h.doc_id, h.source,
       |    round(ln(1.0 + ((SELECT n FROM st) - d.df + 0.5) / (d.df + 0.5))
       |      * (h.tf * 2.2)
       |      / (h.tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * h.dl
       |          / ((SELECT sumdl FROM st)::DOUBLE / (SELECT n FROM st))))
       |      * 1e9)::BIGINT AS fp
       |  FROM hit h JOIN df d USING (term)
       |), scored AS (
       |  SELECT doc_id, source, count(*) AS n_terms_hit,
       |    round(sum(fp) / 1e9, 6) AS score
       |  FROM contrib GROUP BY doc_id, source
       |)
       |SELECT rk, doc_id, source, n_terms_hit, score FROM (
       |  SELECT doc_id, source, n_terms_hit, score,
       |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rk
       |  FROM scored
       |) WHERE rk <= $Bm25Top
       |ORDER BY rk""".stripMargin
  }

  /** Merge-pair candidates emitted. */
  val BpeTop = 30

  /** BPE merge-candidate counting — the inner loop of byte-pair-encoding
    * tokenizer training: count every adjacent character pair across the
    * corpus, weighted by word frequency (the top pair is what BPE would
    * merge first). Exactly the word-frequency-table formulation of the
    * original algorithm: the corpus collapses to |vocab| distinct words
    * once, and pair expansion runs over the vocab, not the corpus —
    * at 100 TB the vocab table is millions of rows where the corpus is
    * trillions of tokens, so the expensive step is corpus-size-
    * independent after one token-count aggregate. All counts are exact
    * integers — fully deterministic on both engines.
    */
  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    bpeMergesOf(Tables.documents(spark, sfDir))

  private[graft] def bpeMergesOf(docs: DataFrame): DataFrame = {
    val vocab = docs
      .select(explode(split(expr(bpeNormSpark), " ")).as("word"))
      .where(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("wc"))
    val pairs = vocab.select(col("word"), col("wc"),
        explode(expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")).as("pair"))
    val top = pairs.groupBy("pair")
      .agg(sum("wc").as("n_occurrences"), countDistinct(col("word")).as("n_distinct_words"))
      .orderBy(col("n_occurrences").desc, col("pair").asc)
      .limit(BpeTop)
    top.withColumn("rk", row_number().over(
        Window.orderBy(col("n_occurrences").desc, col("pair").asc)))
      .select("rk", "pair", "n_occurrences", "n_distinct_words")
      .orderBy("rk")
  }

  val bpeMergesSql: String =
    s"""WITH vocab AS (
       |  SELECT word, count(*) AS wc FROM (
       |    SELECT unnest(string_split($bpeNormDuck, ' ')) AS word FROM documents
       |  ) WHERE length(word) >= 2
       |  GROUP BY word
       |), pairs AS (
       |  SELECT word, wc,
       |    unnest(list_transform(range(1, length(word)), i -> substr(word, i, 2))) AS pair
       |  FROM vocab
       |), agg AS (
       |  SELECT pair, sum(wc)::BIGINT AS n_occurrences,
       |    count(DISTINCT word) AS n_distinct_words
       |  FROM pairs GROUP BY pair
       |)
       |SELECT rk, pair, n_occurrences, n_distinct_words FROM (
       |  SELECT pair, n_occurrences, n_distinct_words,
       |    row_number() OVER (ORDER BY n_occurrences DESC, pair ASC) AS rk
       |  FROM agg
       |) WHERE rk <= $BpeTop
       |ORDER BY rk""".stripMargin

  /** Trained BPE merge rounds — each is one full mine→apply
    * alternation, so fused symbols re-enter the pair statistics and
    * multi-character merges (`th`+`e` → `the`) genuinely emerge. Also
    * the oracle's CTE unroll depth (the q_item_pagerank precedent). */
  val BpeTrainRounds = 8

  /** Greedy within-word application of ONE symbol-pair merge (l, r)
    * over a '|'-joined symbol string, as a single declarative fold.
    * Fold state is the string `done§pending`; each incoming symbol
    * either completes the pair (pending = l AND x = r → append the
    * FUSED symbol to done, clear pending — so the fused symbol can't
    * immediately re-merge, BPE's non-overlapping left-to-right scan)
    * or flushes pending and takes its place. A trailing '¶' token
    * flushes the final pending symbol INTO done, so the result needs
    * exactly one reference (DuckDB's list_reduce has no finisher and
    * its lambdas can't alias a correlated subexpression).
    *
    * Symbols are matched WHOLE — a fused symbol is atomic to later
    * rounds, exactly as in BPE. (The r10 substring-replace
    * formulation was NOT: after `ab` fused, `ab|ab` still exposed a
    * `b|a` boundary inside the fused symbols, so a later `ba` merge
    * over-merged across them — the r10 advisor's counterexample,
    * now pinned the right way in LlmPipelineSpec.)
    *
    * Sentinels: '|' joins symbols, '§' splits the fold state, '¶'
    * flushes, '¬' pads exhausted merge ranks. None of the four can
    * appear in a normalized word — [[normSpark]] only lowercases and
    * collapses whitespace, and LlmPipelineSpec's guard asserts the
    * fixture corpus carries none, so a loosened normalization fails
    * loudly there instead of both engines corrupting identically
    * (the r10 advisor's other ask).
    */
  private def bpeFoldSpark(tok: String, l: String, r: String): String =
    s"""split_part(aggregate(array_append(split($tok, '\\\\|'), '¶'), '§',
       |  (acc, x) -> CASE
       |    WHEN split_part(acc, '§', 2) = $l AND x = $r THEN
       |      concat(CASE WHEN split_part(acc, '§', 1) = '' THEN concat($l, $r)
       |                  ELSE concat(split_part(acc, '§', 1), '|', $l, $r) END, '§')
       |    WHEN split_part(acc, '§', 2) = '' THEN
       |      concat(split_part(acc, '§', 1), '§', x)
       |    ELSE concat(
       |      CASE WHEN split_part(acc, '§', 1) = '' THEN split_part(acc, '§', 2)
       |           ELSE concat(split_part(acc, '§', 1), '|', split_part(acc, '§', 2)) END,
       |      '§', x) END,
       |  acc -> acc), '§', 1)""".stripMargin

  /** DuckDB twin of [[bpeFoldSpark]] — list_reduce with the initial
    * '§' state prepended (list_reduce seeds from the first element).
    * NB: this string is interpolated into templates that call
    * stripMargin AGAIN, so no line may begin with '|' after indent. */
  private def bpeFoldDuck(tok: String, l: String, r: String): String =
    s"""split_part(list_reduce(
       |  list_prepend('§', list_append(string_split($tok, '|'), '¶')),
       |  (acc, x) -> CASE
       |    WHEN split_part(acc, '§', 2) = $l AND x = $r THEN
       |      (CASE WHEN split_part(acc, '§', 1) = '' THEN $l || $r
       |            ELSE split_part(acc, '§', 1) || '|' || $l || $r END) || '§'
       |    WHEN split_part(acc, '§', 2) = '' THEN
       |      split_part(acc, '§', 1) || '§' || x
       |    ELSE (CASE WHEN split_part(acc, '§', 1) = '' THEN split_part(acc, '§', 2)
       |          ELSE split_part(acc, '§', 1) || '|' || split_part(acc, '§', 2) END) ||
       |      '§' || x END), '§', 1)""".stripMargin

  /** Iterative BPE TRAINING — the real algorithm (Sennrich et al.,
    * ACL 2016): [[BpeTrainRounds]] alternating mine→apply rounds over
    * the word-frequency vocabulary. Round r counts every adjacent
    * SYMBOL pair (weighted by word count), fuses the argmax pair
    * ((count DESC, lhs ASC, rhs ASC) — engine-stable) in every word,
    * and the fused symbol participates in round r+1's statistics —
    * which is what makes depth-R vocabularies (`th`+`e` → `the`)
    * exist at all. [[bpeMerges]] remains the single-round
    * pair-statistics table; this is the trained merge LIST the
    * tokenizer ships. Output: one row per round (rk, lhs, rhs,
    * merged, n_occurrences); a round that finds no pair left (every
    * word fully fused) emits nothing and later rounds no-op via the
    * '¬' pad.
    *
    * Scale: the corpus collapses to |vocab| distinct words ONCE (at
    * 100 TB the vocab is millions of rows where the corpus is
    * trillions of tokens); each round is one pair aggregate + one
    * bounded argmax head + |vocab| cheap string folds, all
    * corpus-size-independent. Each round's vocab is localCheckpointed
    * — without the sever, round r's plan would nest TWO copies of
    * round r−1 (the apply side and the mine side), doubling the tree
    * per round. Memoized per (session, sfDir): q_bpe_train,
    * q_bpe_apply and q_bpe_curve all serve from one training pass.
    */
  def bpeTrain(spark: SparkSession, sfDir: String): DataFrame =
    bpeTrainedMerges(spark, sfDir).orderBy("rk")

  private[graft] def bpeTrainedMerges(spark: SparkSession, sfDir: String): DataFrame =
    graft.QueryCache.memo(spark, s"bpe_train:$sfDir") {
      bpeTrainOf(Tables.documents(spark, sfDir))
    }

  private[graft] def bpeTrainOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    var vocab = docs
      .select(explode(split(expr(bpeNormSpark), " ")).as("word"))
      .where(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("wc"))
      // NB Spark's two-arg rtrim is rtrim(trimStr, str) — opposite of
      // DuckDB's; substring on the known 2·len−1 width sidesteps it
      .withColumn("tok",
        expr("substring(regexp_replace(word, '(.)', '$1|'), 1, length(word) * 2 - 1)"))
      .localCheckpoint()
    val rounds = Seq.newBuilder[DataFrame]
    for (r <- 1 to BpeTrainRounds) {
      val pairs = vocab
        .withColumn("syms", split(col("tok"), "\\|"))
        .select(col("wc"), explode(expr(
          "transform(slice(syms, 1, size(syms) - 1), " +
          "(x, i) -> named_struct('lhs', x, 'rhs', element_at(syms, i + 2)))")).as("p"))
        .select(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"), col("wc"))
      // argmax via TakeOrdered, then the '¬' sentinel row (n = −1)
      // wins only when NO pair remains — later rounds no-op instead
      // of cross-joining an empty frame and emptying the vocab
      val best = pairs.groupBy("lhs", "rhs")
        .agg(sum("wc").as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("lhs").asc, col("rhs").asc)
        .limit(1)
        .unionByName(spark.range(1).select(
          lit("¬").as("lhs"), lit("¬").as("rhs"), lit(-1L).as("n_occurrences")))
        .orderBy(col("n_occurrences").desc).limit(1)
        .localCheckpoint() // 1 row; read by the apply AND the output
      rounds += best.where(col("n_occurrences") > 0)
        .select(lit(r.toLong).as("rk"), col("lhs"), col("rhs"),
          concat(col("lhs"), col("rhs")).as("merged"), col("n_occurrences"))
      vocab = vocab
        .crossJoin(broadcast(best.select(col("lhs").as("__l"), col("rhs").as("__r"))))
        .withColumn("tok", expr(bpeFoldSpark("tok", "__l", "__r")))
        .select("word", "wc", "tok")
        .localCheckpoint() // sever: mine + apply both read this round
    }
    rounds.result().reduce(_ unionByName _)
  }

  /** Shared oracle CTE chain for the trained-BPE family: v0 = the
    * global char-split word-frequency vocab; per round r, p$r =
    * adjacent symbol pairs, b$r = the argmax merge (0 or 1 rows),
    * bs$r = b$r with the '¬' no-op fallback, v$r = the greedy fold
    * applied. The parallel unnest of the two aligned list slices
    * (syms[1:-2], syms[2:]) zips adjacent symbols without a join. */
  private def bpeTrainCtes: String = bpeTrainCtesWhere("")

  /** The same chain trained on a FILTERED corpus (`where` applies at
    * the documents level — the holdout split). */
  private def bpeTrainCtesWhere(where: String): String = {
    val rounds = (1 to BpeTrainRounds).map { r =>
      s"""p$r AS (
         |  SELECT wc,
         |    unnest(string_split(tok, '|')[1:-2]) AS lhs,
         |    unnest(string_split(tok, '|')[2:]) AS rhs
         |  FROM v${r - 1}
         |), b$r AS MATERIALIZED (
         |  SELECT lhs, rhs, sum(wc)::BIGINT AS n_occurrences
         |  FROM p$r GROUP BY 1, 2
         |  ORDER BY n_occurrences DESC, lhs ASC, rhs ASC LIMIT 1
         |), bs$r AS (
         |  SELECT lhs, rhs FROM (
         |    SELECT lhs, rhs, n_occurrences FROM b$r
         |    UNION ALL SELECT '¬', '¬', (-1)::BIGINT
         |  ) ORDER BY n_occurrences DESC LIMIT 1
         |), v$r AS MATERIALIZED (
         |  SELECT word, wc, ${bpeFoldDuck("tok", "b.lhs", "b.rhs")} AS tok
         |  FROM v${r - 1} CROSS JOIN bs$r b
         |)""".stripMargin
    }.mkString(", ")
    s"""v0 AS MATERIALIZED (
       |  SELECT word, wc,
       |    rtrim(regexp_replace(word, '(.)', '\\1|', 'g'), '|') AS tok
       |  FROM (
       |    SELECT word, count(*)::BIGINT AS wc FROM (
       |      SELECT unnest(string_split($bpeNormDuck, ' ')) AS word FROM documents $where
       |    ) WHERE length(word) >= 1
       |    GROUP BY word
       |  )
       |), $rounds""".stripMargin
  }

  val bpeTrainSql: String = {
    val unions = (1 to BpeTrainRounds).map { r =>
      s"SELECT $r::BIGINT AS rk, lhs, rhs, lhs || rhs AS merged, n_occurrences FROM b$r"
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeTrainCtes
       |$unions
       |ORDER BY rk""".stripMargin
  }

  /** Pivot the trained merge table to one broadcastable row
    * (`1_l,1_r,…,R_l,R_r`) and greedy-fold every rank in order over a
    * vocab frame carrying `word`; missing ranks pad to the
    * never-matching '¬'. Shared by [[bpeApplyOf]] and [[bpeCurveOf]]. */
  private def bpeAppliedTok0(vocab: DataFrame, merges: DataFrame): DataFrame = {
    val mergeRow = merges.where(col("rk") <= BpeTrainRounds)
      .groupBy().pivot("rk", 1 to BpeTrainRounds)
      .agg(first("lhs").as("l"), first("rhs").as("r"))
    vocab.crossJoin(broadcast(mergeRow))
      .withColumn("tok",
        expr("substring(regexp_replace(word, '(.)', '$1|'), 1, length(word) * 2 - 1)"))
  }

  private def bpeFoldRank(df: DataFrame, r: Int): DataFrame =
    df.withColumn("tok", expr(bpeFoldSpark("tok",
      s"coalesce(`${r}_l`, '¬')", s"coalesce(`${r}_r`, '¬')")))

  /** BPE merge APPLICATION — tokenize the corpus with the TRAINED
    * merge list ([[bpeTrain]]) applied greedily in rank order, and
    * report what the tokenizer BUYS: per source, words, symbols
    * before (one per character, BPE's starting alphabet), tokens
    * after the merges, and the compression in basis points. Merges
    * apply over whole symbols via [[bpeFoldSpark]], so multi-char
    * trained merges (and their atomicity) are exact.
    *
    * Scale: the folds run over the (source, word) VOCABULARY (the
    * [[bpeTrain]] collapse — millions of rows where the corpus is
    * trillions of tokens), weighted back by word counts; one corpus
    * aggregate + |vocab|·R cheap string folds, nothing quadratic.
    */
  def bpeApply(spark: SparkSession, sfDir: String): DataFrame =
    bpeApplyOf(Tables.documents(spark, sfDir),
      Some(bpeTrainedMerges(spark, sfDir)))

  private[graft] def bpeApplyOf(docs: DataFrame,
      mergesOpt: Option[DataFrame] = None): DataFrame = {
    val vocab = docs
      .select(col("source"), explode(split(expr(bpeNormSpark), " ")).as("word"))
      .where(length(col("word")) >= 1)
      .groupBy("source", "word").agg(count(lit(1)).as("wc"))
    val tok0 = bpeAppliedTok0(vocab, mergesOpt.getOrElse(bpeTrainOf(docs)))
    val merged = (1 to BpeTrainRounds).foldLeft(tok0)(bpeFoldRank)
    merged
      .withColumn("n_after", size(split(col("tok"), "\\|")).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
           sum(col("wc") * length(col("word"))).as("tokens_before"),
           sum(col("wc") * col("n_after")).as("tokens_after"))
      .withColumn("compression_bp", expr("(tokens_after * 10000) div tokens_before"))
      .orderBy("source")
  }

  val bpeApplySql: String = {
    val rounds = (1 to BpeTrainRounds).map { r =>
      s"""s$r AS MATERIALIZED (
         |  SELECT source, word, wc, ${bpeFoldDuck("tok", "b.lhs", "b.rhs")} AS tok
         |  FROM s${r - 1} CROSS JOIN bs$r b
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $bpeTrainCtes, s0 AS (
       |  SELECT source, word, wc,
       |    rtrim(regexp_replace(word, '(.)', '\\1|', 'g'), '|') AS tok
       |  FROM (
       |    SELECT source, word, count(*)::BIGINT AS wc FROM (
       |      SELECT source, unnest(string_split($bpeNormDuck, ' ')) AS word FROM documents
       |    ) WHERE length(word) >= 1
       |    GROUP BY 1, 2
       |  )
       |), $rounds
       |SELECT source, count(*)::BIGINT AS n_words,
       |  sum(wc * length(word))::BIGINT AS tokens_before,
       |  sum(wc * len(string_split(tok, '|')))::BIGINT AS tokens_after,
       |  ((sum(wc * len(string_split(tok, '|'))) * 10000)
       |    // sum(wc * length(word)))::BIGINT AS compression_bp
       |FROM s$BpeTrainRounds
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  /** Merge-depth tuning curve for the TRAINED tokenizer — "how many
    * merges do I need": corpus token count and compression after EVERY
    * trained merge depth 0..[[BpeTrainRounds]] (depth 0 = the
    * character alphabet, BPE's starting point). The
    * [[ivfRecallCurve]]-style audit for the tokenizer knob: each row
    * is the depth-r tokenization the fold already materializes on the
    * way to depth R, so the whole curve costs ONE pass over the
    * global vocabulary beyond the (memoized) training itself — the
    * marginal gain of each merge becomes a measured row (diminishing
    * returns visible) instead of folklore.
    *
    * Scale: same economics as [[bpeApply]] — |vocab| rows × R cheap
    * string folds after one corpus token-count aggregate; the output
    * is R+1 rows off a single wide aggregate, stack-unpivoted.
    */
  def bpeCurve(spark: SparkSession, sfDir: String): DataFrame =
    bpeCurveOf(Tables.documents(spark, sfDir),
      Some(bpeTrainedMerges(spark, sfDir)))

  private[graft] def bpeCurveOf(docs: DataFrame,
      mergesOpt: Option[DataFrame] = None): DataFrame = {
    val vocab = docs
      .select(explode(split(expr(bpeNormSpark), " ")).as("word"))
      .where(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("wc"))
    val tok0 = bpeAppliedTok0(vocab, mergesOpt.getOrElse(bpeTrainOf(docs)))
      .withColumn("n0", length(col("word")).cast("long"))
    val merged = (1 to BpeTrainRounds).foldLeft(tok0) { (df, r) =>
      bpeFoldRank(df, r)
        .withColumn(s"n$r", size(split(col("tok"), "\\|")).cast("long"))
    }
    val aggs = (0 to BpeTrainRounds).map(r => sum(col("wc") * col(s"n$r")).as(s"t$r"))
    val wide = merged.agg(aggs.head, aggs.tail: _*)
    val stacked = (0 to BpeTrainRounds)
      .map(r => s"$r, t$r").mkString(", ")
    wide.selectExpr(s"stack(${BpeTrainRounds + 1}, $stacked) AS (n_merges, tokens)", "t0")
      .select(col("n_merges").cast("long").as("n_merges"), col("tokens"),
              expr("(tokens * 10000) div t0").as("compression_bp"))
      .orderBy("n_merges")
  }

  /** The curve's per-depth tokenizations ARE the training chain's v$r
    * tables — the oracle reads them directly. */
  val bpeCurveSql: String = {
    val unions = (0 to BpeTrainRounds).map { r =>
      s"""SELECT $r AS n_merges,
         |  sum(wc * len(string_split(tok, '|')))::BIGINT AS tokens
         |FROM v$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeTrainCtes, curve AS (
       |$unions
       |), base AS (SELECT tokens AS t0 FROM curve WHERE n_merges = 0)
       |SELECT c.n_merges::BIGINT AS n_merges, c.tokens,
       |  ((c.tokens * 10000) // b.t0)::BIGINT AS compression_bp
       |FROM curve c CROSS JOIN base b
       |ORDER BY n_merges""".stripMargin
  }

  /** Holdout selector for the tokenizer-generalization split: ~20% of
    * documents by the engine-portable row-key hash (the
    * [[graft.operators.PipelineOps]] hashSample idiom — reproducible
    * across runs, engines and partitionings). */
  private def isBpeHoldout: Column =
    expr("cast(conv(substring(md5(concat_ws('-', cast(doc_id AS string), 'bpe')), 1, 8), 16, 10) AS bigint)") % 5 === 0

  private val bpeHoldoutDuck =
    "('0x' || substr(md5(doc_id || '-bpe'), 1, 8))::BIGINT % 5 = 0"

  /** Tokenizer GENERALIZATION — does the trained vocabulary transfer?
    * Train the [[BpeTrainRounds]]-round BPE on the ~80% hash split
    * ONLY (leak-clean: the holdout never enters the pair statistics —
    * the q_contamination discipline applied to tokenizer training),
    * then apply the trained merges to BOTH splits and report the
    * compression side by side. A healthy tokenizer compresses the
    * holdout nearly as well as its training corpus; a gap is the
    * measured overfit of the merge list.
    *
    * Scale: the split predicate is a map-side hash; training collapses
    * the TRAIN corpus to its vocab once (memoized separately from the
    * full-corpus tokenizer); application is the shared |vocab|·R fold.
    */
  def bpeHoldout(spark: SparkSession, sfDir: String): DataFrame =
    bpeHoldoutOf(Tables.documents(spark, sfDir),
      Some(bpeTrainedMerges80(spark, sfDir)))

  /** Merges trained on the ~80% TRAIN split only (memoized separately
    * from the full-corpus tokenizer). */
  private[graft] def bpeTrainedMerges80(spark: SparkSession, sfDir: String): DataFrame =
    graft.QueryCache.memo(spark, s"bpe_train_80:$sfDir") {
      bpeTrainOf(Tables.documents(spark, sfDir).where(!isBpeHoldout))
    }

  private[graft] def bpeHoldoutOf(docs: DataFrame,
      mergesOpt: Option[DataFrame] = None): DataFrame = {
    val vocab = docs
      .select(when(isBpeHoldout, lit("holdout")).otherwise(lit("train")).as("split"),
              explode(split(expr(bpeNormSpark), " ")).as("word"))
      .where(length(col("word")) >= 1)
      .groupBy("split", "word").agg(count(lit(1)).as("wc"))
    val tok0 = bpeAppliedTok0(vocab,
      mergesOpt.getOrElse(bpeTrainOf(docs.where(!isBpeHoldout))))
    val merged = (1 to BpeTrainRounds).foldLeft(tok0)(bpeFoldRank)
    merged
      .withColumn("n_after", size(split(col("tok"), "\\|")).cast("long"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_words"),
           sum(col("wc") * length(col("word"))).as("tokens_before"),
           sum(col("wc") * col("n_after")).as("tokens_after"))
      .withColumn("compression_bp", expr("(tokens_after * 10000) div tokens_before"))
      .orderBy("split")
  }

  val bpeHoldoutSql: String = {
    val rounds = (1 to BpeTrainRounds).map { r =>
      s"""h$r AS MATERIALIZED (
         |  SELECT split, word, wc, ${bpeFoldDuck("tok", "b.lhs", "b.rhs")} AS tok
         |  FROM h${r - 1} CROSS JOIN bs$r b
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ${bpeTrainCtesWhere(s"WHERE NOT ($bpeHoldoutDuck)")}, h0 AS (
       |  SELECT split, word, wc,
       |    rtrim(regexp_replace(word, '(.)', '\\1|', 'g'), '|') AS tok
       |  FROM (
       |    SELECT split, word, count(*)::BIGINT AS wc FROM (
       |      SELECT CASE WHEN $bpeHoldoutDuck THEN 'holdout' ELSE 'train' END AS split,
       |        unnest(string_split($bpeNormDuck, ' ')) AS word
       |      FROM documents
       |    ) WHERE length(word) >= 1
       |    GROUP BY 1, 2
       |  )
       |), $rounds
       |SELECT split, count(*)::BIGINT AS n_words,
       |  sum(wc * length(word))::BIGINT AS tokens_before,
       |  sum(wc * len(string_split(tok, '|')))::BIGINT AS tokens_after,
       |  ((sum(wc * len(string_split(tok, '|'))) * 10000)
       |    // sum(wc * length(word)))::BIGINT AS compression_bp
       |FROM h$BpeTrainRounds
       |GROUP BY split
       |ORDER BY split""".stripMargin
  }

  /** Symbols reported by the vocabulary inventory. */
  val BpeVocabTop = 30

  /** The trained tokenizer's SYMBOL INVENTORY — the artifact a
    * tokenizer actually ships alongside its merge list: every distinct
    * symbol the depth-[[BpeTrainRounds]] tokenization emits, with its
    * corpus frequency (word-count weighted), its length, and whether
    * it is a merge product (multi-char) or base alphabet; top
    * [[BpeVocabTop]] by frequency plus rank. Completes the training
    * story: merges ([[bpeTrain]]) → application ([[bpeApply]]) → depth
    * curve ([[bpeCurve]]) → the vocabulary itself.
    *
    * Scale: one explode of the |vocab| tokenized words (corpus-size-
    * independent after the shared training collapse), one symbol
    * aggregate bounded by |alphabet| + R rows, and a
    * TakeOrderedAndProject head — nothing corpus-sized past the
    * memoized training.
    */
  def bpeVocab(spark: SparkSession, sfDir: String): DataFrame =
    bpeVocabOf(Tables.documents(spark, sfDir),
      Some(bpeTrainedMerges(spark, sfDir)))

  private[graft] def bpeVocabOf(docs: DataFrame,
      mergesOpt: Option[DataFrame] = None): DataFrame = {
    val vocab = docs
      .select(explode(split(expr(bpeNormSpark), " ")).as("word"))
      .where(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("wc"))
    val toks = (1 to BpeTrainRounds).foldLeft(
      bpeAppliedTok0(vocab, mergesOpt.getOrElse(bpeTrainOf(docs))))(bpeFoldRank)
    toks
      .select(col("wc"), explode(split(col("tok"), "\\|")).as("symbol"))
      .groupBy("symbol").agg(sum("wc").as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("symbol").asc)
      .limit(BpeVocabTop)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n_occurrences").desc, col("symbol").asc)))
      .select(col("rk"), col("symbol"),
        length(col("symbol")).cast("long").as("n_chars"),
        (length(col("symbol")) > 1).as("is_merged"),
        col("n_occurrences"))
      .orderBy("rk")
  }

  /** Oracle: the symbol inventory off the train chain's final v$R. */
  val bpeVocabSql: String =
    s"""WITH $bpeTrainCtes, syms AS (
       |  SELECT symbol, sum(wc)::BIGINT AS n_occurrences FROM (
       |    SELECT wc, unnest(string_split(tok, '|')) AS symbol
       |    FROM v$BpeTrainRounds
       |  ) GROUP BY symbol
       |)
       |SELECT rk, symbol, length(symbol)::BIGINT AS n_chars,
       |  length(symbol) > 1 AS is_merged, n_occurrences
       |FROM (
       |  SELECT symbol, n_occurrences,
       |    row_number() OVER (ORDER BY n_occurrences DESC, symbol ASC) AS rk
       |  FROM syms
       |) WHERE rk <= $BpeVocabTop
       |ORDER BY rk""".stripMargin

  /** Document-frequency floor for χ² terms (rare terms have unstable
    * statistics — the standard feature-selection cut).
    */
  val Chi2MinDf = 10
  /** Terms reported per source. */
  val Chi2Top = 5

  /** χ² term–source association — the classic feature-selection
    * statistic (which terms are characteristic of a source?): for each
    * (source, term) 2×2 contingency table,
    * χ² = D·(n11·n00 − n10·n01)² / ((n11+n10)(n01+n00)(n11+n01)(n10+n00)).
    * All cell counts are exact integers from two document-level
    * aggregates; the statistic is one integer-product expression
    * divided once, so ranking is engine-stable. Products stay < 2⁶³ up
    * to ~10⁶ docs; beyond that the numerator moves to DOUBLE (same
    * plan, one cast — noted here, not needed at fixture scale).
    *
    * Scale shape: doc→distinct-term explode, one (source, term)
    * aggregate, one |vocab|-row df aggregate broadcast back — no
    * self-joins; the per-source top-K is a tiny window over
    * |sources|·|vocab| rows.
    */
  def chi2Terms(spark: SparkSession, sfDir: String): DataFrame = {
    val dt = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        explode(array_distinct(split(expr(normSpark), " "))).as("term"))
    // r10 rescan sever: ONE (source, term) aggregate carries every
    // count the contingency table needs — df = Σ n11 over sources
    // (terms are doc-distinct), d = Σ ds (a doc has one source) — so
    // the exploded term stream is scanned once, not once per marginal
    // (documents ×4 in the r9 plan)
    val gstats = dt.groupBy("source", "term").agg(count(lit(1)).as("n11"))
      .localCheckpoint()
    val perSource = dt.groupBy("source").agg(countDistinct(col("doc_id")).as("ds"))
      .localCheckpoint() // |sources| rows; totals + the cell join read it
    val totals = perSource.agg(sum("ds").as("d"))
    val dfT = gstats.groupBy("term").agg(sum("n11").as("df"))
      .where(col("df") >= Chi2MinDf)
    val cells = gstats
      .join(broadcast(dfT), "term")
      .join(broadcast(perSource), "source")
      .crossJoin(broadcast(totals))
      .withColumn("n10", col("ds") - col("n11"))
      .withColumn("n01", col("df") - col("n11"))
      .withColumn("n00", col("d") - col("ds") - col("n01"))
      .withColumn("chi2", round(
        (col("d") * (col("n11") * col("n00") - col("n10") * col("n01"))
          * (col("n11") * col("n00") - col("n10") * col("n01"))) /
        ((col("n11") + col("n10")) * (col("n01") + col("n00"))
          * (col("n11") + col("n01")) * (col("n10") + col("n00"))), 6))
    cells.withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("chi2").desc, col("term").asc)))
      .where(col("rk") <= Chi2Top)
      .select("source", "rk", "term", "n11", "df", "chi2")
      .orderBy("source", "rk")
  }

  val chi2TermsSql: String =
    s"""WITH dt AS (
       |  SELECT DISTINCT doc_id, source, unnest(list_distinct(string_split($normDuck, ' '))) AS term
       |  FROM documents
       |), totals AS (
       |  SELECT count(DISTINCT doc_id) AS d FROM dt
       |), per_source AS (
       |  SELECT source, count(DISTINCT doc_id) AS ds FROM dt GROUP BY source
       |), df_t AS (
       |  SELECT term, count(*) AS df FROM dt GROUP BY term HAVING count(*) >= $Chi2MinDf
       |), cells AS (
       |  SELECT c.source, c.term, c.n11, f.df,
       |    s.ds - c.n11 AS n10, f.df - c.n11 AS n01,
       |    (SELECT d FROM totals) - s.ds - (f.df - c.n11) AS n00,
       |    (SELECT d FROM totals) AS d
       |  FROM (SELECT source, term, count(*) AS n11 FROM dt GROUP BY source, term) c
       |  JOIN df_t f ON f.term = c.term
       |  JOIN per_source s ON s.source = c.source
       |), scored AS (
       |  SELECT source, term, n11, df,
       |    round((d * (n11 * n00 - n10 * n01) * (n11 * n00 - n10 * n01))
       |      / ((n11 + n10) * (n01 + n00) * (n11 + n01) * (n10 + n00))::DOUBLE, 6) AS chi2
       |  FROM cells
       |)
       |SELECT source, rk, term, n11, df, chi2 FROM (
       |  SELECT source, term, n11, df, chi2,
       |    row_number() OVER (PARTITION BY source ORDER BY chi2 DESC, term ASC) AS rk
       |  FROM scored
       |) WHERE rk <= $Chi2Top
       |ORDER BY source, rk""".stripMargin

  /** Minimum tokens for the boilerplate filter. */
  val C4MinTok = 25
  /** Distinct-token ratio floor (repetitious-doc gate). */
  val C4MinDistinct = 0.35
  /** Token length above which a doc is flagged (gibberish gate). */
  val C4MaxWordLen = 7

  /** Per-document C4 gate flags — the ONE definition of the heuristic,
    * shared by the per-source audit ([[c4Filter]]) and the
    * filter-agreement diagnostic ([[filterKappa]]). */
  private[graft] def c4Flagged(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")))
      .withColumn("f_short", (col("n_tok") < C4MinTok).cast("long"))
      .withColumn("f_repeat",
        (size(array_distinct(col("toks"))).cast("double") / col("n_tok") < C4MinDistinct)
          .cast("long"))
      .withColumn("f_nostop", (size(expr(
        "filter(toks, t -> t IN ('the','of','and','to','in','a'))")) === 0).cast("long"))
      .withColumn("f_longword", (expr(
        s"aggregate(toks, 0, (m, t) -> greatest(m, length(t)))") > C4MaxWordLen).cast("long"))

  /** C4-style heuristic corpus filtering: per source, count documents
    * failing each cleaning rule — too short, too repetitious (distinct-
    * token ratio), no stopwords (non-language gate), over-long tokens
    * (gibberish/code gate) — and the documents that pass all of them.
    * These are the published C4/Gopher-family heuristics re-expressed
    * as one scan of integer predicates: every rule is computed from the
    * token array with higher-order functions, no UDFs, so the whole
    * gate stays inside whole-stage codegen and pushes through a 100 TB
    * corpus as a single map-side pass + one tiny aggregate.
    */
  def c4Filter(spark: SparkSession, sfDir: String): DataFrame = {
    val d = c4Flagged(spark, sfDir)
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("f_short").as("n_short"),
           sum("f_repeat").as("n_repeat"),
           sum("f_nostop").as("n_nostop"),
           sum("f_longword").as("n_longword"),
           sum(when(col("f_short") + col("f_repeat") + col("f_nostop") + col("f_longword") === 0, 1L)
             .otherwise(0L)).as("n_kept"))
      .orderBy("source")
  }

  /** The matching oracle CTE pair (`d`/`f`, f carrying doc_id, source
    * and the four flags) — spliced into both C4 oracles. */
  private[graft] val c4FlagsSql: String =
    s"""d AS (
       |  SELECT doc_id, source,
       |    string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n_tok
       |  FROM documents
       |), f AS (
       |  SELECT doc_id, source,
       |    CASE WHEN n_tok < $C4MinTok THEN 1 ELSE 0 END AS f_short,
       |    CASE WHEN len(list_distinct(toks)) / n_tok::DOUBLE < $C4MinDistinct
       |         THEN 1 ELSE 0 END AS f_repeat,
       |    CASE WHEN len(list_filter(toks, t -> t IN ('the','of','and','to','in','a'))) = 0
       |         THEN 1 ELSE 0 END AS f_nostop,
       |    CASE WHEN list_aggregate(list_transform(toks, t -> len(t)), 'max') > $C4MaxWordLen
       |         THEN 1 ELSE 0 END AS f_longword
       |  FROM d
       |)""".stripMargin

  val c4FilterSql: String =
    s"""WITH $c4FlagsSql
       |SELECT source, count(*) AS n_docs,
       |  sum(f_short)::BIGINT AS n_short,
       |  sum(f_repeat)::BIGINT AS n_repeat,
       |  sum(f_nostop)::BIGINT AS n_nostop,
       |  sum(f_longword)::BIGINT AS n_longword,
       |  sum(CASE WHEN f_short + f_repeat + f_nostop + f_longword = 0
       |      THEN 1 ELSE 0 END)::BIGINT AS n_kept
       |FROM f
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Vowel runs at or above which a token counts as "complex". */
  val ComplexSyllables = 3

  /** Readability profile per source — Gunning-Fog-style ingredients
    * computed treating each doc as one sentence unit: vowel-run count
    * as the syllable stand-in (the standard heuristic when no
    * dictionary is available), complex-word share (≥
    * [[ComplexSyllables]] runs), and fog = 0.4·(words/doc +
    * 100·complex/words). Every rate is a SINGLE division of exact
    * integer corpus totals — not an average of per-doc floats — so no
    * summation-order noise exists anywhere in the query. One exploded
    * scan + one aggregate; linear at any corpus size.
    */
  def readability(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), explode(split(expr(normSpark), " ")).as("t"))
      .withColumn("syll", size(expr("regexp_extract_all(t, '[aeiou]+', 0)")))
      .groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_words"),
           sum(length(col("t"))).as("n_chars"),
           sum(col("syll")).as("n_syllables"),
           sum((col("syll") >= ComplexSyllables).cast("long")).as("n_complex"))
      .withColumn("avg_word_len", round(col("n_chars") / col("n_words"), 6))
      .withColumn("syll_per_word", round(col("n_syllables") / col("n_words"), 6))
      .withColumn("complex_share", round(col("n_complex") / col("n_words"), 6))
      .withColumn("fog", round(
        (col("n_words") / col("n_docs") + lit(100.0) * col("n_complex") / col("n_words")) * 0.4, 4))
      .select("source", "n_docs", "n_words", "n_complex",
              "avg_word_len", "syll_per_word", "complex_share", "fog")
      .orderBy("source")

  val readabilitySql: String =
    s"""WITH t AS (
       |  SELECT source, doc_id, unnest(string_split($normDuck, ' ')) AS t
       |  FROM documents
       |), m AS (
       |  SELECT source, doc_id, t,
       |    len(regexp_extract_all(t, '[aeiou]+')) AS syll
       |  FROM t
       |), agg AS (
       |  SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_words,
       |    sum(length(t))::BIGINT AS n_chars,
       |    sum(syll)::BIGINT AS n_syllables,
       |    sum(CASE WHEN syll >= $ComplexSyllables THEN 1 ELSE 0 END)::BIGINT AS n_complex
       |  FROM m GROUP BY source
       |)
       |SELECT source, n_docs, n_words, n_complex,
       |  round(n_chars / n_words::DOUBLE, 6) AS avg_word_len,
       |  round(n_syllables / n_words::DOUBLE, 6) AS syll_per_word,
       |  round(n_complex / n_words::DOUBLE, 6) AS complex_share,
       |  round((n_words / n_docs::DOUBLE + 100.0 * n_complex / n_words::DOUBLE) * 0.4, 4) AS fog
       |FROM agg
       |ORDER BY source""".stripMargin

  /** Terms fitted by the Zipf regression. */
  val ZipfTop = 200

  /** Zipf rank–frequency fit: regress ln(frequency) on ln(rank) over
    * the top [[ZipfTop]] corpus terms — natural language sits near
    * slope −1, and a corpus that drifts far from it (templated spam,
    * truncated vocab) fails this health check. Term counts and ranks
    * are exact integers; the two-column regression runs on ~ZipfTop
    * rows via the native regr_* aggregates, rounded well above the
    * engines' summation-order noise.
    */
  def zipfFit(spark: SparkSession, sfDir: String): DataFrame = {
    val freqs = Tables.documents(spark, sfDir)
      .select(explode(split(expr(normSpark), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
    val ranked = freqs
      .withColumn("rank", row_number().over(
        Window.orderBy(col("freq").desc, col("term").asc)))
      .where(col("rank") <= ZipfTop)
      .withColumn("lr", log(col("rank").cast("double")))
      .withColumn("lf", log(col("freq").cast("double")))
    ranked.agg(
        count(lit(1)).as("n_terms"),
        max("freq").as("top_freq"),
        round(expr("regr_slope(lf, lr)"), 4).as("zipf_slope"),
        round(expr("regr_intercept(lf, lr)"), 4).as("zipf_intercept"),
        round(corr(col("lf"), col("lr")), 4).as("loglog_corr"))
  }

  val zipfFitSql: String =
    s"""WITH freqs AS (
       |  SELECT term, count(*) AS freq FROM (
       |    SELECT unnest(string_split($normDuck, ' ')) AS term FROM documents
       |  ) GROUP BY term
       |), ranked AS (
       |  SELECT freq,
       |    ln(row_number() OVER (ORDER BY freq DESC, term ASC)::DOUBLE) AS lr,
       |    ln(freq::DOUBLE) AS lf,
       |    row_number() OVER (ORDER BY freq DESC, term ASC) AS rank
       |  FROM freqs
       |)
       |SELECT count(*) AS n_terms, max(freq) AS top_freq,
       |  round(regr_slope(lf, lr), 4) AS zipf_slope,
       |  round(regr_intercept(lf, lr), 4) AS zipf_intercept,
       |  round(corr(lf, lr), 4) AS loglog_corr
       |FROM ranked WHERE rank <= $ZipfTop""".stripMargin

  /** Target domain for importance resampling. */
  val ImportanceTargetLang = "en"
  /** Docs reported by the importance ranking. */
  val ImportanceTop = 20

  /** Importance-resampling scores (the DSIR recipe, Xie et al. 2023,
    * with unigram features): score each document by the average
    * log-likelihood ratio of its tokens under a target-domain unigram
    * LM vs the whole-corpus LM — the standard "pick pretraining data
    * that looks like the domain you care about" gate. Target here =
    * the $ImportanceTargetLang slice; add-one smoothing on both sides;
    * the (N+V) normalizers shift every doc equally so the ranking
    * drops them: score = avg ln((ct+1)/(cc+1)).
    *
    * Scale shape: BOTH LMs come out of ONE token aggregate (corpus
    * count + conditional target count per token — no second scan);
    * the model is |vocab| rows and broadcasts back into the token
    * stream; per-doc scoring is map + doc-keyed aggregate; the top-N
    * is TakeOrderedAndProject. The corpus never self-joins, never
    * shuffles except for the vocab and doc aggregates.
    */
  def importanceSample(spark: SparkSession, sfDir: String): DataFrame =
    importanceRank(Tables.documents(spark, sfDir))

  /** Core ranking over any (doc_id, lang, text) frame — split out so the
    * enrichment property can be unit-tested on a corpus whose lang
    * actually correlates with content (the synthetic fixture draws every
    * lang from one shared 31-token vocabulary, so there the ranking is
    * structurally valid but lang-flat by construction).
    */
  private[graft] def importanceRank(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("lang"),
        explode(split(expr(normSpark), " ")).as("tok"))
    val lm = toks.groupBy("tok").agg(
      count(lit(1)).as("cc"),
      sum(when(col("lang") === ImportanceTargetLang, 1L).otherwise(0L)).as("ct"))
    val scored = toks.join(broadcast(lm), "tok")
      .groupBy("doc_id", "lang")
      .agg(round(avg(log((col("ct") + 1.0) / (col("cc") + 1.0))), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(ImportanceTop)
    scored.withColumn("rk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)))
      .select("rk", "doc_id", "lang", "score")
      .orderBy("rk")
  }

  val importanceSampleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, unnest(string_split($normDuck, ' ')) AS tok FROM documents
       |), lm AS (
       |  SELECT tok, count(*) AS cc,
       |    sum(CASE WHEN lang = '$ImportanceTargetLang' THEN 1 ELSE 0 END) AS ct
       |  FROM toks GROUP BY tok
       |), scored AS (
       |  SELECT t.doc_id, t.lang,
       |    round(avg(ln((lm.ct + 1.0) / (lm.cc + 1.0))), 6) AS score
       |  FROM toks t JOIN lm USING (tok)
       |  GROUP BY t.doc_id, t.lang
       |)
       |SELECT rk, doc_id, lang, score FROM (
       |  SELECT doc_id, lang, score,
       |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rk
       |  FROM scored
       |) WHERE rk <= $ImportanceTop
       |ORDER BY rk""".stripMargin

  /** Corpus diversity per language: how evenly the slice spreads over
    * sources — Shannon entropy of the source distribution plus its
    * normalized form (entropy / ln(n_sources), 1.0 = perfectly even).
    * The "is this language slice all one crawl?" check a data-mixing
    * pass runs before weighting. Two bounded aggregates (per
    * (lang, source), then per lang); nothing scales with corpus size
    * except the first count.
    */
  def corpusEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val bySrc = Tables.documents(spark, sfDir)
      .groupBy("lang", "source").agg(count(lit(1)).as("c"))
    val tot = Window.partitionBy("lang")
    bySrc.withColumn("p", col("c") / sum("c").over(tot))
      .groupBy("lang")
      .agg(sum("c").as("n_docs"),
           count(lit(1)).as("n_sources"),
           round(-sum(col("p") * log(col("p"))), 6).as("source_entropy"))
      // A single-source slice has entropy 0 AND ln(n_sources)=0; define
      // it as trivially even (1.0) rather than emit 0/0 = NaN — the
      // oracle CASE mirrors this so both engines agree.
      .withColumn("evenness",
        when(col("n_sources") > 1,
          round(col("source_entropy") / log(col("n_sources").cast("double")), 6))
          .otherwise(lit(1.0)))
      .orderBy("lang")
  }

  val corpusEntropySql: String =
    """WITH bysrc AS (
      |  SELECT lang, source, count(*) AS c FROM documents GROUP BY 1, 2
      |), p AS (
      |  SELECT lang, c, c / sum(c) OVER (PARTITION BY lang) AS p FROM bysrc
      |), e AS (
      |  SELECT lang, sum(c)::BIGINT AS n_docs, count(*) AS n_sources,
      |    round(-sum(p * ln(p)), 6) AS source_entropy
      |  FROM p GROUP BY lang
      |)
      |SELECT lang, n_docs, n_sources, source_entropy,
      |  CASE WHEN n_sources > 1
      |       THEN round(source_entropy / ln(n_sources::DOUBLE), 6)
      |       ELSE 1.0 END AS evenness
      |FROM e
      |ORDER BY lang""".stripMargin

  /** Bigram shingle width for boilerplate phrases. The fixture's token
    * streams draw from a ~40-word vocabulary, so bigrams (≤1600 types)
    * repeat across documents while anything wider is almost surely
    * unique — the widest gram with a non-degenerate document frequency.
    */
  val BoilerW = 2
  /** A phrase is boilerplate within a source when it appears in at
    * least this percent of the source's documents (and ≥ [[BoilerMinDf]]
    * docs absolute, so tiny sources can't promote noise).
    */
  val BoilerFracPct = 10
  val BoilerMinDf = 3

  /** CCNet-style boilerplate detection, generalized from lines to
    * phrase shingles: per source, find [[BoilerW]]-gram phrases present
    * in ≥ [[BoilerFracPct]]% of the source's documents — the repeated
    * navigation/footer/template content a crawl pipeline strips before
    * training — and report the phrase inventory plus how much of the
    * source's token stream the boilerplate set covers.
    *
    * Scale shape: gram generation is map-side (codegen [[graft.functions.Shingles]]);
    * document frequency is one (source, gram) aggregate over per-doc
    * DISTINCT grams; the boiler set joins back to the positional gram
    * stream as an equi-join on (source, gram) — everything is keyed by
    * source, so a 100 TB corpus processes source-parallel with no
    * cross-source traffic. Coverage is a single division of exact
    * integer totals (no per-doc float averaging).
    */
  def boilerplate(spark: SparkSession, sfDir: String): DataFrame =
    boilerplateOf(Tables.documents(spark, sfDir))

  private[graft] def boilerplateOf(docs: DataFrame): DataFrame = {
    // r10 rescan sever: the r9 form re-scanned the gram stream for
    // document frequency, positions and coverage separately (documents
    // ×7 in the plan). One (source, gram) aggregate now carries BOTH
    // the position count and the distinct-doc count, and every
    // downstream statistic — inventory, coverage, totals, top phrase —
    // is ONE groupBy(source) pass over that gram-level frame. The
    // corpus is scanned once; the tiny per-source doc counts are
    // severed so their aggregate isn't replayed per consumer.
    val grams = docs
      .select(col("source"), col("doc_id"),
        explode(graft.functions.Shingles.shingles(split(expr(normSpark), " "), BoilerW)).as("gram"))
    val gstats = grams.groupBy("source", "gram")
      .agg(count(lit(1)).as("n_pos"), countDistinct(col("doc_id")).as("df"))
    val nDocs = docs
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .localCheckpoint() // broadcast gate + final join both read it
    val flagged = gstats.join(broadcast(nDocs), "source")
      .withColumn("is_boiler",
        (col("df") * 100 >= col("n_docs") * BoilerFracPct) && (col("df") >= BoilerMinDf))
    val perSource = flagged.groupBy("source")
      .agg(count(lit(1)).as("n_phrases"),
           sum(col("is_boiler").cast("long")).as("n_boiler_phrases"),
           max(struct(col("df"), col("gram"))).as("top"),
           sum("n_pos").as("n_positions"),
           sum(when(col("is_boiler"), col("n_pos")).otherwise(0L)).as("n_boiler_positions"))
    nDocs.join(perSource, "source")
      .withColumn("boiler_coverage",
        round(col("n_boiler_positions") / col("n_positions").cast("double"), 6))
      .select(col("source"), col("n_docs"), col("n_phrases"), col("n_boiler_phrases"),
              col("n_boiler_positions"), col("boiler_coverage"),
              col("top.gram").as("top_phrase"), col("top.df").as("top_phrase_df"))
      .orderBy("source")
  }

  /** Oracle note: `max(struct(df, gram))` picks the lexicographically
    * LARGEST gram among the max-df ties; the SQL mirrors with
    * `ORDER BY df DESC, gram DESC LIMIT 1` per source.
    */
  val boilerplateSql: String =
    s"""WITH toks AS (
       |  SELECT source, doc_id, string_split($normDuck, ' ') AS t FROM documents
       |), g AS (
       |  SELECT source, doc_id,
       |    unnest(list_transform(range(0, len(t) - ${BoilerW - 1}),
       |                          i -> array_to_string(list_slice(t, i + 1, i + $BoilerW), ' '))) AS gram
       |  FROM toks WHERE len(t) >= $BoilerW
       |), df AS (
       |  SELECT source, gram, count(DISTINCT doc_id) AS df FROM g GROUP BY 1, 2
       |), nd AS (
       |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
       |), flagged AS (
       |  SELECT df.source, df.gram, df.df,
       |    (df.df * 100 >= nd.n_docs * $BoilerFracPct AND df.df >= $BoilerMinDf) AS is_boiler
       |  FROM df JOIN nd ON df.source = nd.source
       |), inv AS (
       |  SELECT source, count(*) AS n_phrases,
       |    sum(CASE WHEN is_boiler THEN 1 ELSE 0 END)::BIGINT AS n_boiler_phrases
       |  FROM flagged GROUP BY source
       |), top AS (
       |  SELECT source, gram AS top_phrase, df AS top_phrase_df
       |  FROM (SELECT source, gram, df,
       |          row_number() OVER (PARTITION BY source ORDER BY df DESC, gram DESC) AS rk
       |        FROM flagged)
       |  WHERE rk = 1
       |), pos AS (
       |  SELECT source, count(*) AS n_positions FROM g GROUP BY source
       |), cov AS (
       |  SELECT g.source, count(*) AS n_boiler_positions
       |  FROM g JOIN flagged f ON g.source = f.source AND g.gram = f.gram
       |  WHERE f.is_boiler
       |  GROUP BY g.source
       |)
       |SELECT nd.source, nd.n_docs, inv.n_phrases, inv.n_boiler_phrases,
       |  coalesce(cov.n_boiler_positions, 0)::BIGINT AS n_boiler_positions,
       |  round(coalesce(cov.n_boiler_positions, 0) / pos.n_positions::DOUBLE, 6) AS boiler_coverage,
       |  top.top_phrase, top.top_phrase_df
       |FROM nd JOIN inv ON nd.source = inv.source
       |JOIN pos ON nd.source = pos.source
       |JOIN top ON nd.source = top.source
       |LEFT JOIN cov ON nd.source = cov.source
       |ORDER BY nd.source""".stripMargin

  /** Keywords reported by the RAKE ranking. */
  val RakeTop = 30

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases
    * are the maximal stopword-free token runs; each word scores
    * degree/frequency (degree = Σ candidate length over its
    * occurrences — co-occurrence credit), and a phrase scores the sum
    * of its words' scores. Emits the top [[RakeTop]] corpus keywords
    * by (score desc, phrase) with occurrence counts — the
    * unsupervised topic surface for corpus exploration, alongside the
    * supervised χ² terms and TF-IDF tiers.
    *
    * Scale: candidate generation is a per-row regex split (map-side
    * generator); word stats and phrase scores are two
    * vocabulary-bounded aggregates; the word-score table broadcasts
    * into the phrase scoring join; ranking is a bounded head.
    */
  def rakeKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    val stopRe = Stopwords.mkString("\\\\b(", "|", ")\\\\b")
    val phrases = Tables.spread(Tables.documents(spark, sfDir), "doc_id")
      .select(explode(split(
        expr(s"regexp_replace($normSpark, '$stopRe', '§')"), "§")).as("raw"))
      .select(trim(col("raw")).as("phrase"))
      .where(length(col("phrase")) > 0)
    val words = phrases
      .select(col("phrase"), explode(split(col("phrase"), " ")).as("w"),
        size(split(col("phrase"), " ")).as("phlen"))
    val wordStats = words.groupBy("w")
      .agg(count(lit(1)).as("freq"), sum("phlen").as("degree"))
    val distinctPhrases = phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occ"))
    distinctPhrases
      .select(col("phrase"), col("n_occ"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(broadcast(wordStats), "w")
      .groupBy("phrase", "n_occ")
      .agg(count(lit(1)).as("n_words"),
           round(sum(col("degree").cast("double") / col("freq")), 4).as("score"))
      // rank on the ROUNDED score — float-order noise must never
      // decide a rank (the sessionEntropy sf0.1 lesson)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("phrase").asc)))
      .where(col("rk") <= RakeTop)
      .select("rk", "phrase", "n_occ", "n_words", "score")
      .orderBy("rk")
  }

  val rakeKeywordsSql: String = {
    val stopRe = Stopwords.mkString("\\b(", "|", ")\\b")
    s"""WITH phrases AS (
       |  SELECT trim(p) AS phrase FROM (
       |    SELECT unnest(string_split(
       |      regexp_replace($normDuck, '$stopRe', '§', 'g'), '§')) AS p
       |    FROM documents
       |  ) WHERE len(trim(p)) > 0
       |), words AS (
       |  SELECT phrase, unnest(string_split(phrase, ' ')) AS w,
       |    len(string_split(phrase, ' ')) AS phlen
       |  FROM phrases
       |), ws AS (
       |  SELECT w, count(*) AS freq, sum(phlen)::BIGINT AS degree FROM words GROUP BY w
       |), dp AS (
       |  SELECT phrase, count(*) AS n_occ FROM phrases GROUP BY phrase
       |), scored AS (
       |  SELECT d.phrase, d.n_occ, count(*) AS n_words,
       |    round(sum(ws.degree::DOUBLE / ws.freq), 4) AS score
       |  FROM dp d, unnest(string_split(d.phrase, ' ')) AS t(w)
       |  JOIN ws ON ws.w = t.w
       |  GROUP BY 1, 2
       |)
       |SELECT rk, phrase, n_occ, n_words, score FROM (
       |  SELECT phrase, n_occ, n_words, score,
       |    row_number() OVER (ORDER BY score DESC, phrase ASC) AS rk
       |  FROM scored
       |) WHERE rk <= $RakeTop
       |ORDER BY rk""".stripMargin
  }

  /** Vocabulary size for the coverage audit — the top-V corpus tokens
    * stand in for a trained tokenizer's vocab. */
  val VocabSize = 500

  /** Tokenizer-fit / OOV audit per source — the "will my tokenizer
    * cover this corpus" check run before committing a vocab: build the
    * top-[[VocabSize]] token vocabulary by corpus frequency (ties
    * ascending by token — deterministic), then measure each source's
    * out-of-vocabulary token share and mean per-doc OOV rate. A source
    * whose coverage sits well below the rest either needs vocab budget
    * or gets tokenized into fragment soup.
    *
    * Scale: explode → one token-frequency aggregate → the vocab head
    * is a TakeOrderedAndProject (V rows) broadcast into a map-side
    * membership join — the corpus is touched twice, shuffled once
    * (token agg), and nothing corpus-sized sorts globally.
    */
  def vocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        explode(split(expr(normSpark), " ")).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc).limit(VocabSize)
      .select(col("tok"), lit(1).as("iv"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("iv").isNull, 1).otherwise(0)).as("n_oov"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum("n_oov").as("n_oov"),
        round(avg(col("n_oov").cast("double") / col("n_tok")), 6).as("avg_oov_rate"))
      .withColumn("token_coverage",
        round(lit(1.0) - col("n_oov").cast("double") / col("n_tokens"), 6))
      .orderBy("source")
  }

  val vocabCoverageSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, unnest(string_split($normDuck, ' ')) AS tok
       |  FROM documents
       |), vocab AS (
       |  SELECT tok FROM (SELECT tok, count(*) AS n FROM toks GROUP BY tok)
       |  ORDER BY n DESC, tok ASC LIMIT $VocabSize
       |), per_doc AS (
       |  SELECT t.doc_id, any_value(t.source) AS source, count(*)::BIGINT AS n_tok,
       |    sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
       |  FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
       |  GROUP BY t.doc_id
       |)
       |SELECT source, count(*)::BIGINT AS n_docs,
       |  sum(n_tok)::BIGINT AS n_tokens, sum(n_oov)::BIGINT AS n_oov,
       |  round(avg(n_oov::DOUBLE / n_tok), 6) AS avg_oov_rate,
       |  round(1.0 - sum(n_oov)::DOUBLE / sum(n_tok), 6) AS token_coverage
       |FROM per_doc GROUP BY source ORDER BY source""".stripMargin

  /** TextRank vocabulary head: top content words by corpus frequency
    * that form the co-occurrence graph's node set. The word graph must
    * be BOUNDED even though the vocabulary grows with the corpus
    * (Heaps' law — the q_bpe_merges precedent): the head is a
    * TakeOrderedAndProject, and every downstream structure is ≤
    * TrVocab nodes / TrVocab² edges regardless of corpus size.
    */
  val TrVocab = 300
  /** Co-occurrence window: token distance ≤ TrWindow in the ORIGINAL
    * position stream (stopword gaps count toward the distance).
    */
  val TrWindow = 2
  /** Content-word proxy (no POS tagger in pure SQL): length ≥ TrMinLen
    * and not a stopword.
    */
  val TrMinLen = 4
  /** Keywords emitted. */
  val TrTop = 20

  /** Memoized TextRank word graph: mirrored co-occurrence edges with
    * out-weights attached — (src, dst, w, ow) over the top-[[TrVocab]]
    * content words. Static per sfDir; every PageRank round re-reads it
    * (the [[GraphRank.copurchaseEw]] pattern).
    */
  private[graft] def textrankEw(spark: SparkSession, sfDir: String): DataFrame =
    graft.QueryCache.memo(spark, s"textrank_ew:$sfDir") {
      // content tokens feed the vocab head AND the position join:
      // severed once (rescan-sweep rule)
      val ct = Tables.documents(spark, sfDir)
        .select(col("doc_id"), posexplode(split(expr(normSpark), " ")).as(Seq("pos", "w")))
        .where(length(col("w")) >= TrMinLen && !col("w").isin(Stopwords: _*))
        .localCheckpoint()
      val vocab = ct.groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w").asc).limit(TrVocab)
        .select("w")
      val vt = ct.join(broadcast(vocab), "w").localCheckpoint()
      val pairs = vt.as("x")
        .join(vt.as("y"),
          col("x.doc_id") === col("y.doc_id") &&
            col("y.pos") > col("x.pos") &&
            col("y.pos") <= col("x.pos") + TrWindow &&
            col("x.w") =!= col("y.w"))
        .groupBy(least(col("x.w"), col("y.w")).as("wa"),
                 greatest(col("x.w"), col("y.w")).as("wb"))
        .agg(count(lit(1)).as("co"))
        .localCheckpoint() // mirror union reads it twice
      GraphRank.mirrorWithOutW(pairs.select(
          col("wa").as("src"), col("wb").as("dst"), col("co").as("w")))
        .coalesce(4)
    }

  /** Force-build the memoized shared tables (see [[graft.Bench]]):
    * the TextRank graph and the trained BPE merge list (shared by
    * q_bpe_train / q_bpe_apply / q_bpe_curve). */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    textrankEw(spark, sfDir).count()
    bpeTrainedMerges(spark, sfDir).count()
    bpeTrainedMerges80(spark, sfDir).count(): Unit
  }

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    * damped PageRank over the word co-occurrence graph — a word is
    * central when it co-occurs with other central words, the
    * graph-based complement to RAKE's degree/frequency heuristic
    * (q_rake_keywords) and to frequency ranking itself. Edges connect
    * content words within [[TrWindow]] original-stream positions,
    * weighted by corpus co-occurrence count; the recurrence is
    * [[GraphRank.pagerankOf]]'s integer fixed-point (BIGINT floor-div
    * rounds — bit-identical on any engine/partitioning), so the oracle
    * unrolls the same rounds as chained CTEs (the q_item_pagerank
    * pattern).
    *
    * Scale: tokenization is map-side; the only corpus-sized shuffles
    * are the word-count aggregate and one position self-join bounded
    * by [[TrWindow]]·tokens rows; everything after the vocab head is
    * ≤ [[TrVocab]]² edge rows. Rank mass at 100 TB is unchanged — the
    * graph is vocabulary-sized, not corpus-sized.
    */
  def textrankKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    val ew = textrankEw(spark, sfDir)
    val nodes = ew.select(col("src").as("item")).distinct()
    val nV = nodes.count() // ≤ TrVocab — the itemPagerank driver count
    GraphRank.pagerankOf(ew, nodes, nV, GraphRank.BroadcastNodeCeiling)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rank").desc, col("item").asc)))
      .where(col("rk") <= TrTop)
      .select(col("rk"), col("item").as("word"), col("rank").as("rank_units"),
        round(col("rank") / GraphRank.TotalUnits.toDouble, 6).as("textrank"))
      .orderBy("rk")
  }

  val textrankKeywordsSql: String = {
    // the recurrence replay is GraphRank's single definition
    val rounds = GraphRank.prRoundsSql(GraphRank.Rounds)
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    generate_subscripts(string_split($normDuck, ' '), 1) AS pos,
       |    unnest(string_split($normDuck, ' ')) AS w
       |  FROM documents
       |), ct AS MATERIALIZED (
       |  SELECT doc_id, pos, w FROM toks
       |  WHERE length(w) >= $TrMinLen AND NOT list_contains($stopListDuck, w)
       |), vocab AS MATERIALIZED (
       |  SELECT w FROM (
       |    SELECT w, count(*) AS cnt FROM ct GROUP BY w
       |    ORDER BY cnt DESC, w ASC LIMIT $TrVocab)
       |), vt AS MATERIALIZED (
       |  SELECT ct.doc_id, ct.pos, ct.w FROM ct JOIN vocab USING (w)
       |), pairs AS MATERIALIZED (
       |  SELECT least(x.w, y.w) AS wa, greatest(x.w, y.w) AS wb, count(*) AS co
       |  FROM vt x JOIN vt y ON x.doc_id = y.doc_id
       |    AND y.pos > x.pos AND y.pos <= x.pos + $TrWindow AND x.w <> y.w
       |  GROUP BY 1, 2
       |), edges AS (
       |  SELECT wa AS src, wb AS dst, co AS w FROM pairs
       |  UNION ALL
       |  SELECT wb AS src, wa AS dst, co AS w FROM pairs
       |), ow AS (
       |  SELECT src, sum(w)::BIGINT AS ow FROM edges GROUP BY src
       |), ew AS MATERIALIZED (
       |  SELECT e.src, e.dst, e.w, o.ow FROM edges e JOIN ow o ON o.src = e.src
       |), nodes AS (
       |  SELECT DISTINCT src AS item FROM edges
       |), b AS (
       |  SELECT (${GraphRank.TotalUnits} // count(*))::BIGINT AS base FROM nodes
       |), pr0 AS (
       |  SELECT item, (SELECT base FROM b) AS rank FROM nodes
       |), $rounds
       |SELECT rk, item AS word, rank AS rank_units,
       |  round(rank / ${GraphRank.TotalUnits}e0, 6) AS textrank
       |FROM (
       |  SELECT item, rank,
       |    row_number() OVER (ORDER BY rank DESC, item ASC) AS rk
       |  FROM pr${GraphRank.Rounds}
       |) WHERE rk <= $TrTop
       |ORDER BY rk""".stripMargin
  }

  /** Quality-rater keep threshold on the 6dp-rounded score — near the
    * corpus median, so both verdicts are populated at every SF. */
  val KappaKeepMin = 0.6

  /** Cohen's kappa between two curation gates — the filter-redundancy
    * diagnostic a pipeline runs before stacking heuristics: if the C4
    * rule set and the quality-score gate agree far beyond chance
    * (kappa → 1) one of them is dead weight; if they are independent
    * (kappa → 0) they prune different corpus slices and both earn
    * their scan. Raters: keep_c4 = all four [[c4Flagged]] flags clear;
    * keep_q = [[qualityScored]] score ≥ [[KappaKeepMin]] (thresholding
    * the ROUNDED score, so the rater itself is engine-stable). Both
    * verdicts come from ONE pass over each doc; kappa collapses to a
    * single division of exact BIGINTs:
    * κ = (n·agree − Σ marginal products) / (n² − Σ marginal products)
    * — int64-safe to n ≈ 3·10⁹ docs (the n² term; past that, the
    * DECIMAL(38) hatch, the spearman note). The agreement band labels
    * the ROUNDED κ on the standard Landis–Koch cuts.
    *
    * Scale: two map-side flag computations, one count aggregate,
    * 1-row assembly — linear, no windows, no joins but the 1-row one.
    */
  def filterKappa(spark: SparkSession, sfDir: String): DataFrame = {
    val c4 = c4Flagged(spark, sfDir)
      .select(col("doc_id"),
        (col("f_short") + col("f_repeat") + col("f_nostop") + col("f_longword") === 0)
          .cast("long").as("keep_c4"))
    val q = qualityScored(spark, sfDir)
      .select(col("doc_id"), (col("score") >= KappaKeepMin).cast("long").as("keep_q"))
    val cells = c4.join(q, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("keep_c4") * col("keep_q")).as("n11"),
           sum(col("keep_c4") * (lit(1L) - col("keep_q"))).as("n10"),
           sum((lit(1L) - col("keep_c4")) * col("keep_q")).as("n01"),
           sum((lit(1L) - col("keep_c4")) * (lit(1L) - col("keep_q"))).as("n00"))
    cells
      .withColumn("pe_num",
        (col("n11") + col("n10")) * (col("n11") + col("n01")) +
        (col("n01") + col("n00")) * (col("n10") + col("n00")))
      .withColumn("po", round((col("n11") + col("n00")) / col("n_docs").cast("double"), 6))
      .withColumn("pe", round(col("pe_num") / (col("n_docs") * col("n_docs")).cast("double"), 6))
      .withColumn("kappa", round(
        when(col("n_docs") * col("n_docs") - col("pe_num") =!= 0,
          (col("n_docs") * (col("n11") + col("n00")) - col("pe_num")).cast("double") /
            (col("n_docs") * col("n_docs") - col("pe_num")).cast("double")), 6))
      .withColumn("agreement",
        when(col("kappa").isNull, "undefined")
          .when(col("kappa") >= 0.8, "almost_perfect")
          .when(col("kappa") >= 0.6, "substantial")
          .when(col("kappa") >= 0.4, "moderate")
          .when(col("kappa") >= 0.2, "fair")
          .otherwise("slight"))
      .select("n_docs", "n11", "n10", "n01", "n00", "po", "pe", "kappa", "agreement")
  }

  val filterKappaSql: String = {
    val kappaExpr =
      "round(CASE WHEN n_docs * n_docs - pe_num <> 0 " +
        "THEN (n_docs * (n11 + n00) - pe_num)::DOUBLE / (n_docs * n_docs - pe_num)::DOUBLE END, 6)"
    s"""WITH $c4FlagsSql, $qualityScoredSql, j AS (
       |  SELECT f.doc_id,
       |    CASE WHEN f.f_short + f.f_repeat + f.f_nostop + f.f_longword = 0
       |         THEN 1 ELSE 0 END AS keep_c4,
       |    CASE WHEN sd.score >= $KappaKeepMin THEN 1 ELSE 0 END AS keep_q
       |  FROM f JOIN sd ON sd.doc_id = f.doc_id
       |), cells AS (
       |  SELECT count(*)::BIGINT AS n_docs,
       |    sum(keep_c4 * keep_q)::BIGINT AS n11,
       |    sum(keep_c4 * (1 - keep_q))::BIGINT AS n10,
       |    sum((1 - keep_c4) * keep_q)::BIGINT AS n01,
       |    sum((1 - keep_c4) * (1 - keep_q))::BIGINT AS n00
       |  FROM j
       |), k AS (
       |  SELECT *, ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))::BIGINT AS pe_num
       |  FROM cells
       |)
       |SELECT n_docs, n11, n10, n01, n00,
       |  round((n11 + n00) / n_docs::DOUBLE, 6) AS po,
       |  round(pe_num / (n_docs * n_docs)::DOUBLE, 6) AS pe,
       |  $kappaExpr AS kappa,
       |  CASE WHEN $kappaExpr IS NULL THEN 'undefined'
       |       WHEN $kappaExpr >= 0.8 THEN 'almost_perfect'
       |       WHEN $kappaExpr >= 0.6 THEN 'substantial'
       |       WHEN $kappaExpr >= 0.4 THEN 'moderate'
       |       WHEN $kappaExpr >= 0.2 THEN 'fair'
       |       ELSE 'slight' END AS agreement
       |FROM k""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_filter_kappa", filterKappa _, Some(filterKappaSql)),
    QuerySpec("q_textrank_keywords", textrankKeywords _, Some(textrankKeywordsSql)),
    QuerySpec("q_vocab_coverage", vocabCoverage _, Some(vocabCoverageSql)),
    QuerySpec("q_rake_keywords", rakeKeywords _, Some(rakeKeywordsSql)),
    QuerySpec("q_boilerplate", boilerplate _, Some(boilerplateSql)),
    QuerySpec("q_importance_sample", importanceSample _, Some(importanceSampleSql)),
    QuerySpec("q_corpus_entropy", corpusEntropy _, Some(corpusEntropySql)),
    QuerySpec("q_zipf_fit", zipfFit _, Some(zipfFitSql)),
    QuerySpec("q_readability", readability _, Some(readabilitySql)),
    QuerySpec("q_text_profile", textProfile _, Some(textProfileSql)),
    QuerySpec("q_lang_id", langId _, Some(langIdSql)),
    QuerySpec("q_quality_score", qualityScore _, Some(qualityScoreSql)),
    QuerySpec("q_token_budget", tokenBudget _, Some(tokenBudgetSql)),
    QuerySpec("q_token_stats", tokenStats _, Some(tokenStatsSql)),
    QuerySpec("q_doc_fingerprint", docFingerprint _, Some(docFingerprintSql)),
    QuerySpec("q_pii_scrub", piiScrub _, Some(piiScrubSql)),
    QuerySpec("q_bigram_lm", bigramLm _, Some(bigramLmSql)),
    QuerySpec("q_quality_curriculum", qualityCurriculum _, Some(qualityCurriculumSql)),
    QuerySpec("q_repetition", repetition _, Some(repetitionSql)),
    QuerySpec("q_contamination", contamination _, Some(contaminationSql)),
    QuerySpec("q_bm25_rank", bm25Rank _, Some(bm25RankSql)),
    QuerySpec("q_bpe_merges", bpeMerges _, Some(bpeMergesSql)),
    QuerySpec("q_bpe_train", bpeTrain _, Some(bpeTrainSql)),
    QuerySpec("q_bpe_apply", bpeApply _, Some(bpeApplySql)),
    QuerySpec("q_bpe_curve", bpeCurve _, Some(bpeCurveSql)),
    QuerySpec("q_bpe_vocab", bpeVocab _, Some(bpeVocabSql)),
    QuerySpec("q_bpe_holdout", bpeHoldout _, Some(bpeHoldoutSql)),
    QuerySpec("q_chi2_terms", chi2Terms _, Some(chi2TermsSql)),
    QuerySpec("q_c4_filter", c4Filter _, Some(c4FilterSql)),
  )
}
