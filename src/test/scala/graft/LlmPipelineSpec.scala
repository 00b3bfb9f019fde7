package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the LLM-data-pipeline operators (Dedup / Similarity /
  * TextAnalysis / Multimodal).
  */
class LlmPipelineSpec extends AnyFunSuite with SparkFixture {

  test("exact dedup books are consistent: docs = distinct + removed") {
    val rows = operators.Dedup.exactDedup(spark, sfTest).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") === r.getAs[Long]("n_distinct") + r.getAs[Long]("n_removed"))
    }
  }

  test("minhash+LSH near-dups are a subset of exact ngram-jaccard near-dups") {
    val exact = operators.Dedup.ngramJaccard(spark, sfTest)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = operators.Dedup.minhashLsh(spark, sfTest)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty, "LSH tier found no near-dups (fixture plants them)")
    assert(lsh.subsetOf(exact), s"LSH emitted pairs exact Jaccard rejects: ${lsh -- exact}")
    // banding with 2-row bands catches essentially all j>=0.9 pairs
    val high = operators.Dedup.ngramJaccard(spark, sfTest)
      .where(col("jaccard") >= 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(high.subsetOf(lsh), s"high-similarity pairs missed by LSH: ${high -- lsh}")
  }

  test("lsh recall audit: S-curve endpoints — near-total recall at j>=0.9, near-zero waste at j<0.1") {
    val rows = operators.Dedup.lshRecall(spark, sfTest).collect()
      .map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_caught"), r.getAs[Long]("recall_bp")))).toMap
    rows.values.foreach { case (n, c, bp) =>
      assert(c <= n); assert(bp >= 0L && bp <= 10000L)
    }
    // with r=2 rows x 6 bands, P(candidate | j=0.9) = 1-(1-0.81)^6 > 0.9999
    val (hn, _, hbp) = rows.getOrElse(9L, rows(10L))
    assert(hn > 0L)
    assert(hbp >= 9000L, s"high-similarity recall only $hbp bp")
    // bucket 0 = unrelated pairs sharing a shingle; candidate rate there
    // is the wasted-verify fraction and must stay tiny
    rows.get(0L).foreach { case (n, c, _) =>
      assert(c * 20 <= n, s"$c of $n unrelated pairs flagged as candidates")
    }
  }

  test("source overlap: canonical pairs, containment >= jaccard, both in (0,1]") {
    val rows = operators.Dedup.sourceOverlap(spark, sfTest).collect()
    assert(rows.nonEmpty)
    val nSrc = Tables.documents(spark, sfTest).select("source").distinct().count()
    assert(rows.length <= nSrc * (nSrc - 1) / 2)
    rows.foreach { r =>
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"))
      val j = r.getAs[Double]("jaccard"); val c = r.getAs[Double]("containment")
      assert(j > 0.0 && j <= 1.0)
      assert(c > 0.0 && c <= 1.0)
      // inter/min >= inter/union, always
      assert(c >= j - 1e-9)
      assert(r.getAs[Long]("inter") > 0L)
    }
  }

  test("simhash pairs are ordered, deduped, within the hamming bound") {
    val rows = operators.Dedup.simhashPairs(spark, sfTest).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")))
    assert(rows.forall(r => r.getAs[Int]("hd") <= operators.Dedup.MaxHamming))
  }

  test("brute-force kNN: exactly K ranked neighbors per query, cosine in [-1,1]") {
    val knn = operators.Similarity.knnBruteForce(spark, sfTest).collect()
    val perQuery = knn.groupBy(_.getAs[Long]("query_id"))
    assert(perQuery.size === operators.Similarity.NQueries)
    perQuery.values.foreach { rows =>
      assert(rows.length === operators.Similarity.K)
      val cs = rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y }, "cosines not non-increasing by rank")
      assert(cs.forall(c => c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9))
    }
  }

  /** Local replay of the mutual-kNN build shared by the summary and
    * component tests: (cell assignment, mutual edges (src<dst, fp)). */
  private lazy val localMutual: (Map[Long, Long], Set[(Long, Long, Long)]) = {
    import operators.Similarity
    val e = Tables.embeddings(spark, sfTest).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }; s
    }
    def cos6(a: Array[Float], b: Array[Float]): Double =
      math.rint(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1e6) / 1e6
    val cents = e.filter(_._1 < Similarity.NCells)
    val cellOf = e.map { case (v, emb) =>
      v -> cents.map { case (c, ce) => (c, cos6(emb, ce)) }
        .minBy { case (c, s) => (-s, c) }._1
    }.toMap
    val embOf = e.toMap
    val mutual = e.groupBy { case (v, _) => cellOf(v) }.values.flatMap { members =>
      val ids = members.map(_._1)
      val knn = ids.flatMap { src =>
        ids.filter(_ != src)
          .map(dst => (dst, cos6(embOf(src), embOf(dst))))
          .sortBy { case (d, c) => (-c, d) }.take(Similarity.MknnK)
          .map { case (d, c) => (src, d, math.rint(c * 1e6).toLong) }
      }.toSet
      val dir = knn.map { case (s, d, _) => (s, d) }
      knn.filter { case (s, d, _) => s < d && dir((d, s)) }
    }.toSet
    (cellOf, mutual)
  }

  test("mutual-kNN graph: per-cell summary matches an exact local replay") {
    import operators.Similarity
    val (cellOf, mutual) = localMutual
    val summary = cellOf.groupBy(_._2).map { case (cell, vs) =>
      val m = mutual.filter { case (s, _, _) => cellOf(s) == cell }
      val n = m.size.toLong
      val sum = m.toSeq.map(_._3).sum
      val mean = if (n == 0) None else Some(math.rint(sum.toDouble / (n * 1e6) * 1e6) / 1e6)
      cell -> ((vs.size.toLong, n, mean))
    }
    val got = Similarity.mutualKnn(spark, sfTest).collect()
    assert(got.length === summary.size)
    got.foreach { r =>
      val (nv, nm, mean) = summary(r.getAs[Long]("cell"))
      assert(r.getAs[Long]("n_vecs") === nv)
      assert(r.getAs[Long]("n_mutual") === nm)
      (Option(r.getAs[java.lang.Double]("mean_cos")), mean) match {
        case (Some(g), Some(x)) => assert(math.abs(g - x) < 1e-9)
        case (None, None)       => ()
        case other              => fail(s"mean_cos null-mismatch: $other")
      }
    }
    // the corpus partitions across cells and mutuality bounds hold
    assert(got.map(_.getAs[Long]("n_vecs")).sum === cellOf.size.toLong)
    got.foreach { r =>
      assert(r.getAs[Long]("n_mutual") <=
        r.getAs[Long]("n_vecs") * Similarity.MknnK / 2)
    }
  }

  test("mutual-kNN components: clusters match a local union-find over the same edges") {
    import operators.Similarity
    val (_, mutual) = localMutual
    // local union-find → component label = min member id
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    mutual.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = mutual.flatMap { case (a, b, _) => Seq(a, b) }
    val expected = verts.groupBy(find).map { case (root, vs) =>
      val sorted = vs.toSeq.sorted
      (sorted.head, vs.size.toLong, sorted.mkString(","))
    }.toSeq.sortBy(_._1)
    val got = Similarity.mutualKnnClusters(spark, sfTest).collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("n_docs"),
                 r.getAs[String]("members")))
    assert(got.toSeq == expected, "component replay mismatch")
    // cluster ids are the min member by construction
    got.foreach { case (cid, _, members) =>
      assert(members.split(",").head.toLong === cid)
    }
  }

  test("hard negatives: nearest different-label cell-mates match a local replay") {
    import operators.Similarity
    val (cellOf, _) = localMutual
    val e = Tables.embeddings(spark, sfTest)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }; s
    }
    def cos6(a: Array[Float], b: Array[Float]): Double =
      math.rint(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1e6) / 1e6
    val byId = e.map(v => v._1 -> v).toMap
    val expected = e.filter(_._1 < Similarity.NQueries).flatMap { case (a, emb, lab) =>
      e.filter { case (v, _, l) => cellOf(v) == cellOf(a) && l != lab }
        .map { case (v, ve, l) => (v, l, cos6(emb, ve)) }
        .sortBy { case (v, _, c) => (-c, v) }.take(Similarity.HardNegK)
        .zipWithIndex.map { case ((v, l, c), i) => (a, i + 1, v, lab, l, c) }
    }.sortBy(t => (t._1, t._2))
    val got = operators.Similarity.hardNegatives(spark, sfTest).collect()
      .map(r => (r.getAs[Long]("anchor_id"), r.getAs[Int]("rk"),
                 r.getAs[Long]("negative_id"), r.getAs[Int]("anchor_label"),
                 r.getAs[Int]("negative_label"), r.getAs[Double]("cos")))
    assert(got.length === expected.length)
    got.zip(expected).foreach { case (g, x) =>
      assert(g._1 == x._1 && g._2 == x._2 && g._3 == x._3, s"rank order: $g vs $x")
      assert(g._4 == x._4 && g._5 == x._5, s"labels: $g vs $x")
      assert(math.abs(g._6 - x._6) < 1e-9)
    }
    // hardness: every mined negative carries a different label, and the
    // anchor's rank-1 negative is at least as close as its rank-K one
    assert(got.forall(g => g._4 != g._5))
    assert(byId.nonEmpty)
  }

  test("IVF recall curve: exact self-check at full probe, monotone recall and cost") {
    import operators.Similarity
    val rows = Similarity.ivfRecallCurve(spark, sfTest).collect()
      .sortBy(_.getAs[Long]("probe"))
    assert(rows.length === Similarity.NCells)
    // probing every cell IS the exact search: recall 10000 bp, full hits
    val full = rows.last
    assert(full.getAs[Long]("recall_bp") === 10000L)
    assert(full.getAs[Long]("n_hits") ===
      Similarity.NQueries.toLong * Similarity.K)
    // nested candidate sets: a truth element present among candidates
    // always makes top-K, so hits (and cost) are monotone in probe
    val hs = rows.map(_.getAs[Long]("n_hits"))
    assert(hs.zip(hs.tail).forall { case (a, b) => a <= b }, "recall not monotone")
    val cs = rows.map(_.getAs[Long]("n_candidates"))
    assert(cs.zip(cs.tail).forall { case (a, b) => a < b }, "candidate cost not increasing")
    // agreement with the measured multi-probe operating point (the
    // 0.81 ladder): the curve at NProbe must clear the same floor the
    // recall spec pins for knnIvf
    val atProbe = rows(Similarity.NProbe - 1).getAs[Long]("recall_bp")
    assert(atProbe >= 6000L, s"recall at NProbe=${Similarity.NProbe} was $atProbe bp")
  }

  test("IVF kNN never beats brute force (it searches a subset)") {
    val bf = operators.Similarity.knnBruteForce(spark, sfTest)
      .where(col("rk") === 1).select("query_id", "cos").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = operators.Similarity.knnIvf(spark, sfTest)
      .where(col("rk") === 1).select("query_id", "cos").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ivf.foreach { case (q, c) => assert(c <= bf(q) + 1e-9, s"query $q: IVF $c > BF ${bf(q)}") }
  }

  test("IVF tier is partitioning-independent: 1 and 8 input partitions give identical rows") {
    import operators.Similarity._
    val e = Tables.embeddings(spark, sfTest)
    // rows compared exactly, as sorted sequences (not sets): a
    // duplicated or dropped row, or any value that moved, fails
    def rows(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] =
      df.collect().toSeq.sortBy(_.toString)
    def each(q: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      val one = rows(q(e.repartition(1)))
      val eight = rows(q(e.repartition(8)))
      assert(one.nonEmpty)
      assert(one === eight)
      assert(one === rows(q(e)))
    }
    each(knnIvfFrom(_, NCells, NProbe, NQueries, K))
    each(ivfRecallCurveFrom(_, NCells, NQueries, K))
    each(knnFilteredFrom(_, NCells, NProbe, NQueries, K, FilterLabel))
  }

  test("IVF and LSH recall@K vs brute force is reported and nontrivial") {
    def topSets(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val bf = topSets(operators.Similarity.knnBruteForce(spark, sfTest))
    def recall(approx: Map[Long, Set[Long]]): Double = {
      val hits = bf.keys.toSeq.map(q => (approx.getOrElse(q, Set.empty) & bf(q)).size.toDouble / bf(q).size)
      hits.sum / hits.size
    }
    val rIvf = recall(topSets(operators.Similarity.knnIvf(spark, sfTest)))
    val rLsh = recall(topSets(operators.Similarity.knnLsh(spark, sfTest)))
    info(f"recall@${operators.Similarity.K}: IVF=$rIvf%.2f LSH=$rLsh%.2f")
    // approximate tiers must find a nontrivial share of true neighbors
    // measured: IVF 0.81 (multi-probe, NProbe=4), LSH 0.94 — floors at
    // the bottom of the credible band so a silent probe/threshold
    // regression fails CI while leaving room for fixture evolution
    assert(rIvf >= 0.6, s"IVF recall regressed below band: $rIvf")
    assert(rLsh >= 0.6, s"LSH recall regressed below band: $rLsh")
  }

  test("matryoshka audit: complete tiers, monotone-ish recall, planted prefix structure detected") {
    val r = operators.Similarity.matryoshka(spark, sfTest).collect()
    assert(r.map(_.getAs[Int]("dims")).toSeq === operators.Similarity.MatryoshkaDims)
    r.foreach { row =>
      assert(row.getAs[Long]("n_retrieved") ===
        operators.Similarity.NQueries.toLong * operators.Similarity.K)
      assert(row.getAs[Long]("n_hits") <= row.getAs[Long]("n_retrieved"))
    }
    // fixture embeddings are near-random, so absolute recall is low by
    // design; the planted corpus below is where the signal lives.
    // Front-loaded corpus: the first 8 dims carry each vector's full
    // signal, the remaining 56 are 2% noise — the matryoshka property
    // a trained MRL embedder would have (energy concentrated in the
    // prefix). Both rankings are then driven by the same 8 dims, so
    // the truncated retriever must agree with the full one almost
    // everywhere.
    val planted = spark.range(0L, 200L).select(col("id").as("vec_id"),
      expr("""transform(sequence(0, 63), j -> cast(
             |  CASE WHEN j < 8 THEN (pmod(hash(id, j), 2000) - 1000) / 1000.0
             |       ELSE 0.02 * (pmod(hash(id, j), 2000) - 1000) / 1000.0 END
             |AS float))""".stripMargin).as("embedding"))
    val p = operators.Similarity.matryoshkaFrom(planted, 20, 5).collect()
      .map(row => row.getAs[Int]("dims") -> row.getAs[Double]("recall")).toMap
    assert(p(8) >= 0.8, s"prefix-heavy corpus must be retrievable from 8 dims (got ${p(8)})")
    assert(p(32) >= p(8) - 0.1, "wider prefixes must not collapse recall")
  }

  test("LSH kNN returns K neighbors per query") {
    val lsh = operators.Similarity.knnLsh(spark, sfTest).collect()
    val per = lsh.groupBy(_.getAs[Long]("query_id")).values
    assert(per.forall(_.length === operators.Similarity.K))
  }

  test("fingerprint is order-sensitive (literal frame)") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"))
      .toDF("doc_id", "text")
    val fps = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("h", expr("cast(conv(substring(md5(tok), 1, 8), 16, 10) AS bigint)"))
      .groupBy("doc_id")
      .agg((sum((col("pos") + 1) * col("h")) % operators.TextAnalysis.FpMod).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) !== fps(2L), "same bag of words, different order must fingerprint differently")
  }

  test("importance sample: fixture ranking is complete, deterministic, descending") {
    val top = operators.TextAnalysis.importanceSample(spark, sfTest).collect()
    assert(top.length === operators.TextAnalysis.ImportanceTop)
    assert(top.map(_.getAs[Int]("rk")).toSeq === (1 to top.length))
    val scores = top.map(_.getAs[Double]("score")).toSeq
    assert(scores === scores.sorted.reverse)
    // NOTE: no lang-enrichment claim here — the synthetic fixture draws
    // every lang from one shared vocabulary, so lang is uncorrelated
    // with content and the head of the ranking is lang-flat by design.
  }

  test("importance sample: target-lang docs dominate when lang correlates with content") {
    // a corpus where the property that makes DSIR selection work CAN
    // hold: en docs lean on one token set, others on another
    import spark.implicits._
    val docs = (0 until 40).map { i =>
      val en = i % 2 == 0
      val text =
        if (en) s"alpha beta alpha gamma beta shared${i % 3}"
        else s"delta epsilon delta zeta epsilon shared${i % 3}"
      (i.toLong, if (en) "en" else "fr", text)
    }.toDF("doc_id", "lang", "text")
    val top = operators.TextAnalysis.importanceRank(docs).collect()
    val hits = top.count(_.getAs[String]("lang") == operators.TextAnalysis.ImportanceTargetLang)
    assert(hits === top.length, s"only $hits/${top.length} top docs are target-lang")
  }

  test("boilerplate: fixture audit reconciles; planted template is flagged") {
    val r = operators.TextAnalysis.boilerplate(spark, sfTest).collect()
    assert(r.map(_.getAs[String]("source")).distinct.length === r.length)
    r.foreach { row =>
      assert(row.getAs[Long]("n_boiler_phrases") <= row.getAs[Long]("n_phrases"))
      val cov = row.getAs[Double]("boiler_coverage")
      assert(cov >= 0.0 && cov <= 1.0)
      assert(row.getAs[String]("top_phrase").split(" ").length === operators.TextAnalysis.BoilerW)
      assert(row.getAs[Long]("top_phrase_df") >= 1L)
    }
    // planted template: every doc of srcA opens with the same header
    // phrase; srcB shares nothing. The header bigram must be flagged in
    // srcA (df = 100% of docs) and srcA's coverage must exceed srcB's.
    import spark.implicits._
    val docs = (0 until 12).map { i =>
      if (i < 6) (i.toLong, "en", s"menu home login body$i word$i tail${i * 7 % 5}", "srcA")
      else (i.toLong, "en", s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f", "srcB")
    }.toDF("doc_id", "lang", "text", "source")
    val p = operators.TextAnalysis.boilerplateOf(docs).collect()
      .map(row => row.getAs[String]("source") -> row).toMap
    assert(p("srcA").getAs[String]("top_phrase") === "menu home" ||
           p("srcA").getAs[String]("top_phrase") === "home login")
    assert(p("srcA").getAs[Long]("top_phrase_df") === 6L)
    assert(p("srcA").getAs[Long]("n_boiler_phrases") >= 2L, "both header bigrams flagged")
    assert(p("srcB").getAs[Long]("n_boiler_phrases") === 0L, "unique docs have no boilerplate")
    assert(p("srcA").getAs[Double]("boiler_coverage") > p("srcB").getAs[Double]("boiler_coverage"))
  }

  // --- shared BPE replay helpers (used by the train/apply/curve and
  // holdout tests): greedy left-to-right WHOLE-SYMBOL merge — real BPE
  // application: the fused symbol is appended closed (can't
  // immediately re-merge) and later merges see only symbol boundaries,
  // never characters inside a fused symbol
  private def bpeApplyMerge(syms: Vector[String], l: String, r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var pend: String = null
    syms.foreach { x =>
      if (pend == l && x == r) { out += (l + r); pend = null }
      else { if (pend != null) out += pend; pend = x }
    }
    if (pend != null) out += pend
    out.result()
  }

  /** Full trainer replay over a weighted vocab: (merge rows, final
    * per-word tokenization, corpus token count at each depth 0..R). */
  private def bpeTrainReplay(wc: Map[String, Long], rounds: Int)
      : (Seq[(Long, String, String, Long)], Map[String, Vector[String]], Seq[Long]) = {
    var toks: Map[String, Vector[String]] =
      wc.keys.map(w => w -> w.map(_.toString).toVector).toMap
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    val depth = Seq.newBuilder[Long]
    def corpusTokens: Long = toks.map { case (w, s) => wc(w) * s.size }.sum
    depth += corpusTokens
    for (r <- 1 to rounds) {
      val pairCounts = toks.toSeq.flatMap { case (w, syms) =>
        syms.zip(syms.tail).map(p => p -> wc(w))
      }.groupBy(_._1).map { case (p, g) => p -> g.map(_._2).sum }
      if (pairCounts.nonEmpty) {
        val ((l, rr), n) =
          pairCounts.toSeq.sortBy { case ((l, rr), n) => (-n, l, rr) }.head
        merges += ((r.toLong, l, rr, n))
        toks = toks.map { case (w, syms) => w -> bpeApplyMerge(syms, l, rr) }
      }
      depth += corpusTokens
    }
    (merges.result(), toks, depth.result())
  }

  /** Apply a trained merge list (in rank order) to one word. */
  private def bpeApplyAll(w: String, merges: Seq[(Long, String, String, Long)]): Vector[String] =
    merges.foldLeft(w.map(_.toString).toVector) { case (syms, (_, l, r, _)) =>
      bpeApplyMerge(syms, l, r)
    }

  test("bpe train + apply + curve: planted vocabulary matches a local mine-apply replay") {
    import spark.implicits._
    import operators.TextAnalysis
    // Planted corpus: word frequencies chosen so the iterative
    // mine→apply loop is replayable in plain Scala below AND produces
    // multi-character merges (the whole point of training rounds —
    // fused symbols re-enter the pair statistics).
    val words = Seq.fill(9)("abab") ++ Seq.fill(5)("abc") ++
      Seq.fill(3)("aaaa") ++ Seq.fill(2)("bc") ++ Seq.fill(7)("x") ++
      Seq.fill(4)("the") ++ Seq.fill(3)("then")
    val docs = words.zipWithIndex.map { case (w, i) =>
      (i.toLong, "en", w, if (i % 2 == 0) "srcA" else "srcB")
    }.toDF("doc_id", "lang", "text", "source")

    val wc = words.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val (expectMerges, toks, expectCurveSeq) =
      bpeTrainReplay(wc, TextAnalysis.BpeTrainRounds)
    // the planted counts force multi-char merges to emerge (th+e etc.)
    assert(expectMerges.exists { case (_, l, rr, _) => l.length > 1 || rr.length > 1 },
      "training must discover multi-character merges")

    val trained = TextAnalysis.bpeTrainOf(docs).orderBy("rk").collect()
    assert(trained.length === expectMerges.length)
    trained.zip(expectMerges).foreach { case (row, (rk, l, rr, n)) =>
      assert(row.getAs[Long]("rk") === rk)
      assert(row.getAs[String]("lhs") === l, s"round $rk lhs")
      assert(row.getAs[String]("rhs") === rr, s"round $rk rhs")
      assert(row.getAs[String]("merged") === l + rr)
      assert(row.getAs[Long]("n_occurrences") === n, s"round $rk count")
    }

    val applied = TextAnalysis.bpeApplyOf(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val perSource = words.zipWithIndex.groupBy { case (_, i) =>
      if (i % 2 == 0) "srcA" else "srcB" }
    perSource.foreach { case (src, ws) =>
      val before = ws.map(_._1.length.toLong).sum
      val after = ws.map { case (w, _) => toks(w).size.toLong }.sum
      assert(applied(src).getAs[Long]("tokens_before") === before, s"$src before")
      assert(applied(src).getAs[Long]("tokens_after") === after, s"$src after")
      assert(applied(src).getAs[Long]("compression_bp") === after * 10000 / before)
    }
    assert(applied("srcA").getAs[Long]("tokens_after") <
           applied("srcA").getAs[Long]("tokens_before"))

    val curve = TextAnalysis.bpeCurveOf(docs).collect()
      .sortBy(_.getAs[Long]("n_merges"))
    assert(curve.length === TextAnalysis.BpeTrainRounds + 1)
    val expectCurve = expectCurveSeq
    curve.zipWithIndex.foreach { case (r, d) =>
      assert(r.getAs[Long]("n_merges") === d.toLong)
      assert(r.getAs[Long]("tokens") === expectCurve(d), s"depth $d")
    }
    assert(expectCurve.zip(expectCurve.tail).forall { case (a, b) => b <= a },
      "each merge can only shrink the token stream")

    // the symbol inventory: weighted symbol counts of the FINAL
    // tokenization, ranked (count desc, symbol asc)
    val expectSyms = toks.toSeq
      .flatMap { case (w, syms) => syms.map(_ -> wc(w)) }
      .groupBy(_._1).map { case (s, g) => s -> g.map(_._2).sum }.toSeq
      .sortBy { case (s, n) => (-n, s) }
      .take(TextAnalysis.BpeVocabTop)
    val inv = TextAnalysis.bpeVocabOf(docs).collect()
    assert(inv.length === expectSyms.length)
    inv.zip(expectSyms).zipWithIndex.foreach { case ((row, (s, n)), i) =>
      assert(row.getAs[Long]("rk") === (i + 1).toLong)
      assert(row.getAs[String]("symbol") === s, s"rank ${i + 1} symbol")
      assert(row.getAs[Long]("n_occurrences") === n, s"rank ${i + 1} count")
      assert(row.getAs[Boolean]("is_merged") === (s.length > 1))
    }
    assert(inv.exists(_.getAs[Boolean]("is_merged")),
      "the trained inventory must contain merge products")
  }

  test("bpe apply: fused symbols are ATOMIC to later merges (the r10 over-merge case)") {
    import spark.implicits._
    import operators.TextAnalysis
    // After merge 1 fuses 'ab', the word 'abab' is [ab, ab]. A later
    // (b, a) merge must NOT fire — the 'b' and 'a' it would join live
    // INSIDE fused symbols. The r10 substring-replace formulation
    // produced 'abab' (1 token) here; real BPE keeps 2.
    val docs = Seq((0L, "en", "abab", "srcA")).toDF("doc_id", "lang", "text", "source")
    val merges = Seq(
      (1L, "a", "b", "ab", 2L),
      (2L, "b", "a", "ba", 1L)
    ).toDF("rk", "lhs", "rhs", "merged", "n_occurrences")
    val out = TextAnalysis.bpeApplyOf(docs, Some(merges)).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("tokens_after") === 2L,
      "ab|ab must survive a later (b, a) merge intact")
  }

  test("bpe holdout: merges train on the 80% split only, applied to both splits") {
    import spark.implicits._
    import operators.TextAnalysis
    import java.security.MessageDigest
    // replay the engine-portable holdout hash (first 8 md5 hex chars of
    // "<doc_id>-bpe" as a long, % 5 == 0) — the h32 replay idiom
    def isHoldout(id: Long): Boolean = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(s"$id-bpe".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 5 == 0
    }
    val words = Seq.tabulate(60)(i => Seq("abab", "the", "then", "bc", "x")(i % 5))
    val docs = words.zipWithIndex.map { case (w, i) =>
      (i.toLong, "en", w, "src")
    }.toDF("doc_id", "lang", "text", "source")
    val split = words.zipWithIndex.groupBy { case (_, i) => isHoldout(i.toLong) }
    assert(split.keySet === Set(true, false), "both splits must be populated")

    // train on the TRAIN split only (leak-clean), apply to both
    val trainWc = split(false).map(_._1).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val (merges, _, _) = bpeTrainReplay(trainWc, TextAnalysis.BpeTrainRounds)
    val expect = split.map { case (hold, ws) =>
      val name = if (hold) "holdout" else "train"
      val before = ws.map(_._1.length.toLong).sum
      val after = ws.map { case (w, _) => bpeApplyAll(w, merges).size.toLong }.sum
      name -> ((ws.map(_._1).distinct.size.toLong, before, after))
    }

    val got = TextAnalysis.bpeHoldoutOf(docs).collect()
      .map(r => r.getAs[String]("split") -> r).toMap
    assert(got.keySet === Set("train", "holdout"))
    expect.foreach { case (name, (nw, before, after)) =>
      assert(got(name).getAs[Long]("n_words") === nw, s"$name n_words")
      assert(got(name).getAs[Long]("tokens_before") === before, s"$name before")
      assert(got(name).getAs[Long]("tokens_after") === after, s"$name after")
      assert(got(name).getAs[Long]("compression_bp") === after * 10000 / before)
    }
  }

  test("bpe sentinels: the fixture corpus carries none of the fold's reserved chars") {
    // '|' (symbol joiner), '§' (fold state), '¶' (flush), '¬' (pad):
    // the fold is only sound while normalized words exclude all four.
    // normSpark merely lowercases + collapses whitespace — it cannot
    // INTRODUCE them — so checking the raw text suffices. If the
    // normalization is ever loosened (e.g. mapping punctuation to
    // sentinels), this fails loudly instead of both engines
    // corrupting identically.
    val bad = Tables.documents(spark, sfTest)
      .where(col("text").rlike("[|§¶¬]")).count()
    assert(bad === 0L, "reserved BPE sentinel characters appear in the corpus")
  }

  test("bpe sentinels: a sentinel-bearing corpus is stripped at the vocab build (r11 ADVICE)") {
    // The BPE family strips the four reserved chars at the shared
    // vocabulary build (bpeNormSpark/bpeNormDuck), so an arbitrary
    // corpus can never smuggle a sentinel into the symbol stream. A
    // corpus with sentinels injected mid-word must therefore produce
    // EXACTLY the counts of its sentinel-free twin.
    import spark.implicits._
    val dirty = Seq(
      (1L, "src", "the|the th§e t¶he the¬"),
      (2L, "src", "aba¬ba ab|aba")).toDF("doc_id", "source", "text")
    val clean = Seq( // strip removes the CHAR: "the|the" → "thethe"
      (1L, "src", "thethe the the the"),
      (2L, "src", "ababa ababa")).toDF("doc_id", "source", "text")
    val got = operators.TextAnalysis.bpeMergesOf(dirty).collect()
    val want = operators.TextAnalysis.bpeMergesOf(clean).collect()
    assert(got.nonEmpty && got.length === want.length)
    got.zip(want).foreach { case (a, b) => assert(a === b) }
    // the trained merges agree too (the fold itself never sees a sentinel)
    val gt = operators.TextAnalysis.bpeTrainOf(dirty).collect()
    val wt = operators.TextAnalysis.bpeTrainOf(clean).collect()
    assert(gt.nonEmpty && gt.length === wt.length)
    gt.zip(wt).foreach { case (a, b) => assert(a === b) }
  }

  test("corpus entropy: bounds hold and every lang slice is covered") {
    val e = operators.TextAnalysis.corpusEntropy(spark, sfTest).collect()
    val total = Tables.documents(spark, sfTest).count()
    assert(e.map(_.getAs[Long]("n_docs")).sum === total)
    e.foreach { r =>
      val ent = r.getAs[Double]("source_entropy")
      val even = r.getAs[Double]("evenness")
      assert(ent >= 0.0)
      // entropy <= ln(n_sources) <=> evenness in [0, 1]
      assert(even >= 0.0 && even <= 1.0 + 1e-9, s"evenness $even out of range")
    }
  }

  test("text profile covers the whole corpus") {
    val total = operators.TextAnalysis.textProfile(spark, sfTest)
      .agg(sum("n_docs")).collect()(0).getLong(0)
    assert(total === Tables.documents(spark, sfTest).count())
  }

  test("decode stub is deterministic and mediaFeatures aggregates it") {
    val p = operators.Multimodal.MediaPayload(7L, "src1", "hello world".getBytes("UTF-8"))
    val f1 = operators.Multimodal.decodeStub(p)
    val f2 = operators.Multimodal.decodeStub(p)
    assert(f1 === f2)
    assert(f1.width === 64 + 11 % 512 && f1.n_frames === 1 + 11 % 16)
    val agg = operators.Multimodal.mediaFeatures(spark, sfTest)
    assert(agg.agg(sum("n_media")).collect()(0).getLong(0) ===
      Tables.documents(spark, sfTest).count())
  }

  test("resize thumbnails are bounded by target bytes and cover the corpus") {
    val rows = operators.Multimodal.mediaResize(spark, sfTest).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("max_thumb_bytes") <= operators.Multimodal.ThumbBytes)
      assert(r.getAs[Double]("avg_stride") >= 1.0)
    }
    assert(rows.map(_.getAs[Long]("n_media")).sum ===
      Tables.documents(spark, sfTest).count())
  }

  test("repetition: duplicate fractions are valid, flagged docs bounded") {
    val rows = operators.TextAnalysis.repetition(spark, sfTest).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      Seq("avg_dup_tok_frac", "avg_dup_tri_frac", "max_dup_tri_frac").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v < 1.0, s"$c=$v out of range")
      }
      assert(r.getAs[Double]("avg_dup_tri_frac") <= r.getAs[Double]("max_dup_tri_frac"))
      assert(r.getAs[Long]("n_repetitive") <= r.getAs[Long]("n_docs"))
    }
  }

  test("contamination: fractions valid, eval docs excluded from the train scan") {
    val rows = operators.TextAnalysis.contamination(spark, sfTest).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val avg = r.getAs[Double]("avg_contamination")
      val max = r.getAs[Double]("max_contamination")
      assert(avg >= 0.0 && avg <= max && max <= 1.0)
      assert(r.getAs[Long]("n_contaminated") <= r.getAs[Long]("n_docs"))
    }
    // train rollup never counts the held-out eval docs themselves
    val nTrain = rows.map(_.getAs[Long]("n_docs")).sum
    val total = Tables.documents(spark, sfTest).count()
    val nEval = Tables.documents(spark, sfTest)
      .where(col("doc_id") % operators.TextAnalysis.EvalMod === 0).count()
    assert(nEval > 0 && nTrain <= total - nEval)
  }

  test("bm25: known-relevant doc ranks by saturating tf with length normalization") {
    val rows = operators.TextAnalysis.bm25Rank(spark, sfTest).collect()
    assert(rows.length === operators.TextAnalysis.Bm25Top)
    // scores strictly ordered by rank (ties broken by doc_id upstream)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      assert(r.getAs[Double]("score") > 0.0)
      assert(r.getAs[Long]("n_terms_hit") >= 1
        && r.getAs[Long]("n_terms_hit") <= operators.TextAnalysis.Bm25Query.size)
    }
  }

  test("bpe merge candidates: hand-checked pair counts on a literal vocab") {
    import spark.implicits._
    // "abab" (freq 3): pairs ab, ba, ab -> ab:6, ba:3 ; "ba" (freq 2): ba:2
    val vocab = Seq(("abab", 3L), ("ba", 2L)).toDF("word", "wc")
    val pairs = vocab.select(col("word"), col("wc"),
        explode(expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum("wc").as("n"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(pairs === Map("ab" -> 6L, "ba" -> 5L))
  }

  test("chi2 terms: cells are consistent contingency tables") {
    val rows = operators.TextAnalysis.chi2Terms(spark, sfTest).collect()
    assert(rows.nonEmpty)
    val d = Tables.documents(spark, sfTest).count()
    rows.foreach { r =>
      assert(r.getAs[Double]("chi2") >= 0.0)
      assert(r.getAs[Long]("n11") >= 1 && r.getAs[Long]("n11") <= r.getAs[Long]("df"))
      assert(r.getAs[Long]("df") >= operators.TextAnalysis.Chi2MinDf && r.getAs[Long]("df") <= d)
      assert(r.getAs[Int]("rk") >= 1 && r.getAs[Int]("rk") <= operators.TextAnalysis.Chi2Top)
    }
  }

  test("substring dedup finds planted pairs and is alignment-invariant") {
    val pairs = operators.Dedup.substringDedup(spark, sfTest).collect()
    assert(pairs.nonEmpty, "fixture near-dups share 40-char spans")
    pairs.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Long]("n_shared") >= operators.Dedup.SubMinShared)
    }
    // content-defined selection: a copied span is sampled identically
    // in both copies even under an alignment shift (literal frame)
    import spark.implicits._
    val span = ("the quick brown fox jumps over the lazy dog while the " +
      "merge sort table scan runs in the key order of the fast index plan")
    val docs = Seq((1L, span), (2L, "zq prefix shift " + span)).toDF("doc_id", "text")
    val w = operators.Dedup.SubW
    val wins = docs.select(col("doc_id"),
        explode(expr(s"transform(sequence(1, length(text) - ${w - 1}), i -> substring(text, i, $w))")).as("win"))
      .where(expr(s"cast(conv(substring(md5(win), 1, 8), 16, 10) AS bigint) % ${operators.Dedup.SubSel} = 0"))
      .distinct()
    val shared = wins.groupBy("win").agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") === 2).count()
    assert(shared >= operators.Dedup.SubMinShared,
      s"shifted copy shares only $shared selected windows")
  }

  test("RRF fusion: overlap sums contributions, ranks-only semantics, ties break on doc_id") {
    val session = spark
    import session.implicits._
    // doc 10 is rank 2 lexical AND rank 3 dense; docs 11/12 are strong
    // single-list docs; doc 13 dense-only tail
    val lex = Seq((10L, 2), (11L, 1), (12L, 3)).toDF("doc_id", "bm25_rk")
    val dense = Seq((10L, 3), (13L, 1), (12L, 2)).toDF("doc_id", "knn_rk")
    val out = operators.Similarity.rrfFuse(lex, dense).collect()
    val units = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rrf_units")).toMap
    val u = operators.Similarity.RrfUnits
    val k = operators.Similarity.RrfK
    // exact integer contributions
    assert(units(10L) === u / (k + 2) + u / (k + 3), "both-list doc sums both contributions")
    assert(units(11L) === u / (k + 1))
    assert(units(12L) === u / (k + 3) + u / (k + 2))
    assert(units(13L) === u / (k + 1))
    // both-list docs outrank every single-list doc here
    val order = out.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("doc_id")).toSeq
    assert(order.take(2).toSet === Set(10L, 12L), s"fused docs must lead: $order")
    // 10 and 12 tie exactly on units -> doc_id breaks the tie
    assert(order.take(2) === Seq(10L, 12L))
    // absent-list ranks report 0, never null
    assert(out.forall(r => r.getAs[Int]("bm25_rk") >= 0 && r.getAs[Int]("knn_rk") >= 0))
  }

  test("token budget: greedy best-first prefix matches a local sorted replay") {
    import operators.TextAnalysis
    val docs = TextAnalysis.qualityScored(spark, sfTest)
      .select(col("doc_id"), col("source"), col("n_toks").cast("long"),
              round(col("score") * 1e6).cast("long")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val budget = docs.map(_._3).sum * TextAnalysis.BudgetPct / 100
    var cum = 0L
    val kept = docs.sortBy { case (id, _, _, sfp) => (-sfp, id) }.map { d =>
      val k = cum < budget; cum += d._3; (d, k)
    }
    val expected = kept.groupBy(_._1._2).map { case (src, ds) =>
      src -> ((ds.length.toLong, ds.count(_._2).toLong,
               ds.filter(_._2).map(_._1._3).sum))
    }
    val got = TextAnalysis.tokenBudget(spark, sfTest).collect()
    assert(got.length === expected.size)
    got.foreach { r =>
      val (nd, nk, kt) = expected(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") === nd)
      assert(r.getAs[Long]("n_kept") === nk, s"${r.getAs[String]("source")} kept")
      assert(r.getAs[Long]("kept_tokens") === kt)
      assert(r.getAs[Long]("budget_tokens") === budget)
    }
    // the greedy prefix always lands within one boundary doc of budget
    val totKept = got.map(_.getAs[Long]("kept_tokens")).sum
    val maxDoc = docs.map(_._3).max
    assert(totKept >= budget.min(docs.map(_._3).sum) - maxDoc && totKept < budget + maxDoc)
  }

  test("media dedup: digest survivorship and bytes-saved match a local replay") {
    val docs = Tables.documents(spark, sfTest)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val keep = docs.groupBy(d => md5hex(d._3)).map { case (h, ds) =>
      h -> ds.map(_._1).min }
    val expected = docs.groupBy(_._2).map { case (src, ds) =>
      val removed = ds.filter(d => keep(md5hex(d._3)) != d._1)
      src -> ((ds.length.toLong, removed.length.toLong,
               removed.map(_._3.getBytes("UTF-8").length.toLong).sum,
               ds.map(d => md5hex(d._3)).distinct.length.toLong))
    }
    val got = operators.Multimodal.mediaDedup(spark, sfTest).collect()
    assert(got.length === expected.size)
    got.foreach { r =>
      val (np, nr, bs, nd) = expected(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_payloads") === np)
      assert(r.getAs[Long]("n_removed") === nr)
      assert(r.getAs[Long]("bytes_saved") === bs)
      assert(r.getAs[Long]("n_digests") === nd)
    }
    // raw-byte duplicates only exist in the sf0.1 fixture (8/5000), so
    // the signal path is pinned on a planted frame: min-doc_id keeps,
    // cross-source copies removed, bytes accounted to the loser's source
    import spark.implicits._
    val planted = Seq(
      (10L, "a", "same-bytes"), (11L, "b", "same-bytes"),
      (12L, "a", "same-bytes"), (20L, "b", "unique")
    ).toDF("doc_id", "source", "text")
    val p = operators.Multimodal.mediaDedupFrom(planted).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_payloads"), r.getAs[Long]("n_removed"),
          r.getAs[Long]("bytes_saved"), r.getAs[Long]("n_digests")))).toMap
    assert(p("a") === ((2L, 1L, 10L, 1L))) // doc 12 loses to doc 10
    assert(p("b") === ((2L, 1L, 10L, 2L))) // doc 11 loses cross-source
  }

  test("perceptual media near-dup: stub-perturbed re-encode caught, md5 misses it") {
    import spark.implicits._
    val M = operators.Multimodal
    // 256-char payload, 32 cells of 8 chars: cells 0-15 'a' (97, below
    // mean), 16-31 'z' (122, above) — a strongly polarized "image"
    val base = "a" * 128 + "z" * 128
    // re-encode stand-in: 4 bytes dimmed inside cell 24 ('z'→'y') — the
    // cell stays far above the mean, so the SIGNATURE is unchanged
    // while the md5 digest flips
    val reenc = base.substring(0, 192) + "yyyy" + base.substring(196)
    // heavier edit: cell 20 fully flipped 'z'→'a' — exactly one bit
    // of the grid flips (hd = 1), still within the Hamming bound
    val oneCell = base.substring(0, 160) + "a" * 8 + base.substring(168)
    // control: inverted halves — all 32 bits differ, never paired
    val inverted = "z" * 128 + "a" * 128
    val docs = Seq(
      (1L, "s", base), (2L, "s", base), (3L, "s", reenc),
      (4L, "s", oneCell), (5L, "s", inverted)
    ).toDF("doc_id", "source", "text")

    assert(reenc != base && oneCell != base)
    val got = M.mediaNearDupFrom(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(2), r.getInt(3)))).toMap
    val expected = Map(
      (1L, 2L) -> ((0, 1)), // byte-identical: hd 0, md5 catches it too
      (1L, 3L) -> ((0, 0)), // the perceptual catch: same grid, md5 MISSES
      (2L, 3L) -> ((0, 0)),
      (1L, 4L) -> ((1, 0)), // one dirty cell = one bit
      (2L, 4L) -> ((1, 0)),
      (3L, 4L) -> ((1, 0)))
    assert(got === expected, s"pair set mismatch: $got")

    // canonical resolution of the planted graph: docs 1-4 form one
    // component (survivor = min doc_id 1), doc 5 passes through —
    // 3 removed, 3 x 256 bytes reclaimed, 2 kept
    val canon = M.mediaCanonicalFrom(docs,
        operators.PipelineOps.ccLabels(
          M.mediaNearDupFrom(docs).select("doc_a", "doc_b")))
      .collect()
    assert(canon.length === 1)
    assert(canon(0).getAs[Long]("n_payloads") === 5L)
    assert(canon(0).getAs[Long]("n_removed") === 3L)
    assert(canon(0).getAs[Long]("bytes_saved") === 3L * 256L)
    assert(canon(0).getAs[Long]("n_kept") === 2L)

    // fixture smoke: bounds hold, and every byte-identical pair the
    // md5 tier finds is also found here (hd = 0, is_exact = 1)
    val fix = M.mediaNearDup(spark, sfTest).collect()
    fix.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getInt(2) <= operators.Dedup.MaxHamming)
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex2(s: String): String =
      md.digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val localDocs = Tables.documents(spark, sfTest)
      .select("doc_id", "text").as[(Long, String)].collect()
    val exactPairs = localDocs.groupBy(d => md5hex2(d._2)).values
      .filter(_.length > 1)
      .flatMap(g => g.map(_._1).sorted.combinations(2).map(p => (p(0), p(1))))
      .toSet
    val gotExact = fix.filter(_.getInt(3) == 1).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.subsetOf(gotExact),
      s"byte-identical pairs missing from the perceptual tier: ${exactPairs -- gotExact}")
  }

  test("binary payload round-trips bytes faithfully") {
    import spark.implicits._
    val sample = Tables.documents(spark, sfTest).limit(20)
      .select(col("text"), col("text").cast("binary").as("payload"))
      .as[(String, Array[Byte])].collect()
    sample.foreach { case (t, b) => assert(java.util.Arrays.equals(b, t.getBytes("UTF-8"))) }
  }

  test("sorted neighborhood matches a local sort+window sweep") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val D = operators.Dedup
    val names = Tables.part(spark, sfTest).select("p_name").distinct()
      .collect().map(_.getString(0))
    def passCands(key: String => String): Set[(String, String)] =
      names.groupBy(n => key(n).take(1)).values.flatMap { blk =>
        val s = blk.sortBy(key)
        for (i <- s.indices; k <- 1 to D.SnWindow if i + k < s.length) yield {
          val (a, b) = (s(i), s(i + k))
          if (a <= b) (a, b) else (b, a)
        }
      }.toSet
    val c1 = passCands(identity)
    val c2 = passCands(_.reverse)
    val expected = (c1 ++ c2).flatMap { case (a, b) =>
      val d = lev(a, b)
      if (d >= 1 && d <= D.SnMaxEdit)
        Some((a, b, (if (c1((a, b))) 1 else 0) + (if (c2((a, b))) 1 else 0), d))
      else None
    }
    val got = D.sortedNeighborhood(spark, sfTest).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    assert(got == expected, s"got ${got.size} pairs, sweep says ${expected.size}")
    assert(got.nonEmpty)
  }

  test("record linkage: weights recompute from candidate agreement rates; matches outrank") {
    val D = operators.Dedup
    val cands = D.snCandidatesOf(
        Tables.part(spark, sfTest).select(col("p_name")).distinct())
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(cands.nonEmpty)
    def agree(a: String, b: String, dist: Int): (Int, Int, Int) = (
      if (dist <= D.SnMaxEdit) 1 else 0,
      if (a.split(" ").head == b.split(" ").head) 1 else 0,
      if (math.abs(a.length - b.length) <= 2) 1 else 0)
    val vecs = cands.map { case (a, b, _, d) => agree(a, b, d) }
    val n = vecs.length.toDouble
    val (se, st, sl) = (vecs.map(_._1).sum, vecs.map(_._2).sum, vecs.map(_._3).sum)
    def u(s: Int) = (s + 1.0) / (n + 2.0)
    def term(a: Int, s: Int) =
      if (a == 1) math.log(D.RlM / u(s)) / math.log(2.0)
      else math.log(D.RlM1 / (1.0 - u(s))) / math.log(2.0)
    val expected = cands.map { case (a, b, np, d) =>
      val (ae, at, al) = agree(a, b, d)
      val w = term(ae, se) + term(at, st) + term(al, sl)
      (a, b, np, d, ae, at, al, math.rint(w * 1e4) / 1e4)
    }.sortBy { case (a, b, _, _, _, _, _, w) => (-w, a, b) }.take(D.RlTop)
      .zipWithIndex.map { case (t, i) => (i + 1) +: t.productIterator.toSeq }
    val got = D.recordLinkage(spark, sfTest).collect()
      .map(r => Seq(r.getInt(0), r.getString(1), r.getString(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7), r.getDouble(8)))
    assert(got.length === expected.length)
    got.zip(expected).foreach { case (g, e) => assert(g === e.toSeq) }
    // an all-agreeing pair must outweigh an all-disagreeing one
    val top = got.head; val a1 = (top(5), top(6), top(7))
    assert(a1._1 == 1, "the strongest pair should agree on the edit field")
  }

  test("sorted neighborhood pass 2 finds a first-letter typo pass 1 cannot") {
    import spark.implicits._
    val D = operators.Dedup
    // the planted pair differs ONLY in its first character: pass 1
    // puts the two names in different first-letter blocks, but their
    // reversals are adjacent in pass 2's last-letter block
    val planted = Seq("aqua steel spring", "zqua steel spring")
    val filler = ('b' to 'y').map(c => s"${c}ilver mint coral")
    val res = D.sortedNeighborhoodOf((planted ++ filler).toDF("p_name")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(res.contains(("aqua steel spring", "zqua steel spring", 1, 1)),
      s"pass 2 must surface the cross-block pair (got ${res.mkString("; ")})")
  }

  test("rake keywords: phrases are stopword-free; scores match a local recompute") {
    val T = operators.TextAnalysis
    val texts = Tables.documents(spark, sfTest).select("text").collect()
      .map(_.getString(0))
    val stops = T.Stopwords.toSet
    val phrases = texts.flatMap { t =>
      val toks = t.trim.toLowerCase.replaceAll("\\s+", " ").split(" ")
      val runs = scala.collection.mutable.ArrayBuffer.empty[List[String]]
      var cur = List.empty[String]
      for (w <- toks) {
        if (stops(w)) { if (cur.nonEmpty) runs += cur.reverse; cur = Nil }
        else cur = w :: cur
      }
      if (cur.nonEmpty) runs += cur.reverse
      runs.map(_.mkString(" "))
    }
    val freq = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val degree = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (p <- phrases; ws = p.split(" "); w <- ws) { freq(w) += 1; degree(w) += ws.length }
    val scores = phrases.groupBy(identity).map { case (p, occ) =>
      (p, occ.length.toLong,
        math.rint(p.split(" ").map(w => degree(w).toDouble / freq(w)).sum * 1e4) / 1e4)
    }.toSeq
    val expected = scores.sortBy { case (p, _, s) => (-s, p) }.take(T.RakeTop)
    val got = operators.TextAnalysis.rakeKeywords(spark, sfTest).collect()
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (r, (p, occ, s)) =>
      assert(r.getString(1) == p, s"rank ${r.getInt(0)}: ${r.getString(1)} vs $p")
      assert(r.getAs[Long]("n_occ") == occ)
      assert(math.abs(r.getAs[Double]("score") - s) < 1e-3)
      assert(!p.split(" ").exists(stops), s"phrase '$p' contains a stopword")
    }
  }

  test("jaccard idf matches a local weighted recompute and downweights boilerplate") {
    val D = operators.Dedup
    val sh = D.shingles(spark, sfTest).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val docs = sh.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nD = docs.size.toDouble
    val df = sh.groupBy(_._2).view.mapValues(_.length).toMap
    def idf(s: String) = math.log(nD / df(s))
    val got = D.jaccardIdf(spark, sfTest).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      val inter = docs(a) & docs(b)
      val wi = inter.toSeq.map(idf).sum
      val wu = (docs(a) | docs(b)).toSeq.map(idf).sum
      assert(a < b)
      assert(r.getAs[Long]("inter") == inter.size)
      val wj = r.getAs[Double]("w_jaccard")
      assert(math.abs(wj - wi / wu) < 1e-4)
      assert(wj >= D.WJacThreshold - 1e-9 && wj <= 1 + 1e-9)
      // a corpus-wide shingle contributes ~nothing: removing df=1..2
      // weighting and counting raw shingles gives plain jaccard — the
      // weighted score must differ whenever the pair shares hot text
      val plain = inter.size.toDouble / (docs(a) | docs(b)).size
      assert(wj > 0 && plain > 0)
    }
    // every emitted pair must also satisfy the candidate floor
    got.foreach { r =>
      assert((docs(r.getAs[Long]("doc_a")) & docs(r.getAs[Long]("doc_b"))).size
        >= D.WJacMinInter)
    }
  }

  test("ngram novelty matches a local first-occurrence recompute; earliest doc is fully novel") {
    val D = operators.Dedup
    val sh = D.shingles(spark, sfTest).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val firstDoc = sh.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val perDoc = sh.groupBy(_._1).view.mapValues { rows =>
      val n = rows.length
      val seen = rows.count { case (d, s) => firstDoc(s) < d }
      (n.toLong, seen.toLong, math.rint((1.0 - seen.toDouble / n) * 1e6) / 1e6)
    }.toMap
    // the emitted top-NoveltyTop rows agree exactly with the local scores
    val got = D.ngramNovelty(spark, sfTest).collect()
    assert(got.length == D.NoveltyTop)
    got.foreach { r =>
      val (n, seen, nov) = perDoc(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_shingles") == n)
      assert(r.getAs[Long]("n_seen") == seen)
      assert(math.abs(r.getAs[Double]("novelty") - nov) < 1e-9)
    }
    // ranking is ascending novelty, and is the global bottom of the corpus
    val novs = got.map(_.getAs[Double]("novelty"))
    assert(novs.sameElements(novs.sorted))
    val cutoff = novs.last
    assert(perDoc.values.count(_._3 < cutoff) <= D.NoveltyTop)
    // the earliest doc's shingles cannot have appeared earlier
    assert(perDoc(perDoc.keys.min)._3 == 1.0)
  }

  test("vocab coverage: OOV shares match a local top-V vocab replay; vocab covers more than its token share") {
    val docs = Tables.documents(spark, sfTest).select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).trim.toLowerCase.replaceAll("\\s+", " ").split(" ").toSeq))
    val freq = docs.flatMap(_._3).groupBy(identity).view.mapValues(_.size).toMap
    val vocab = freq.toSeq.sortBy { case (t, n) => (-n, t) }
      .take(operators.TextAnalysis.VocabSize).map(_._1).toSet
    val bySrc = docs.groupBy(_._2)
    val out = operators.TextAnalysis.vocabCoverage(spark, sfTest).collect()
    assert(out.length == bySrc.size)
    for (r <- out) {
      val src = r.getAs[String]("source")
      val g = bySrc(src)
      val nTok = g.map(_._3.length.toLong).sum
      val nOov = g.map(_._3.count(t => !vocab(t)).toLong).sum
      assert(r.getAs[Long]("n_docs") == g.length)
      assert(r.getAs[Long]("n_tokens") == nTok)
      assert(r.getAs[Long]("n_oov") == nOov)
      assert(math.abs(r.getAs[Double]("token_coverage") - (1.0 - nOov.toDouble / nTok)) < 1e-5)
      val localAvg = g.map(d => d._3.count(t => !vocab(t)).toDouble / d._3.length).sum / g.length
      assert(math.abs(r.getAs[Double]("avg_oov_rate") - localAvg) < 1e-5)
      // a frequency-ranked vocab must cover a super-proportional share
      // of occurrences: coverage >= vocab fraction of distinct tokens
      assert(r.getAs[Double]("token_coverage") >=
        math.min(1.0, vocab.size.toDouble / freq.size) - 1e-9)
    }
  }

  test("filter kappa replays the textbook closed form from the gate flags") {
    import operators.TextAnalysis
    val r = TextAnalysis.filterKappa(spark, sfTest).collect().head
    val c4 = TextAnalysis.c4Flagged(spark, sfTest)
      .select(col("doc_id"),
        (col("f_short") + col("f_repeat") + col("f_nostop") + col("f_longword") === 0)
          .as("k")).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Boolean]("k")).toMap
    val q = TextAnalysis.qualityScored(spark, sfTest)
      .select(col("doc_id"), (col("score") >= TextAnalysis.KappaKeepMin).as("k"))
      .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[Boolean]("k")).toMap
    val n = c4.size.toLong
    val n11 = c4.count { case (d, k) => k && q(d) }.toLong
    val n10 = c4.count { case (d, k) => k && !q(d) }.toLong
    val n01 = c4.count { case (d, k) => !k && q(d) }.toLong
    val n00 = c4.count { case (d, k) => !k && !q(d) }.toLong
    assert(Seq("n11" -> n11, "n10" -> n10, "n01" -> n01, "n00" -> n00)
      .forall { case (c, v) => r.getAs[Long](c) == v })
    // textbook kappa from po/pe vs the query's single-division form
    val po = (n11 + n00).toDouble / n
    val pe = ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)).toDouble / (n * n)
    assert(math.abs(r.getAs[Double]("kappa") - (po - pe) / (1 - pe)) < 1e-5, s"$r")
    // both raters genuinely split the corpus (neither is constant)
    assert(n11 + n10 > 0 && n01 + n00 > 0 && n11 + n01 > 0 && n10 + n00 > 0)
  }
}
