package graft

import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** The build-once/serve-many leg of the ANN stack (r10 verdict #1):
  * q_ivf_serve persists the composed IVF→PQ index artifacts (cell
  * assignments, centroids, PQ codebooks, code table, quantized
  * vectors) as bucketed external catalog tables and serves retrieval
  * from the RELOADED tables. This spec proves the properties the
  * oracle hash-match alone can't see:
  *
  *  - serving from the reloaded index is ROW-IDENTICAL to the
  *    in-session memoized build (the q_ivf_ingest bit-parity
  *    precedent, applied to persistence instead of arrival order);
  *  - reload causes ZERO re-assignment — the persisted cells table
  *    equals a from-scratch assignment row for row;
  *  - a FRESH session object (new catalog client, no lineage to the
  *    building session's DataFrames) reads the same index;
  *  - the serve plan scans the corpus exactly ONCE (the raw query
  *    vectors — at serve time queries arrive fresh); every other
  *    input comes from the persisted index tables.
  */
class ServeIndexSpec extends AnyFunSuite with SparkFixture {

  import operators.{Relational => _, _}

  /** Scan locations of a formatted plan — every FileScan prints a
    * `Location: <Index> [<path>]` detail line. Guards count scans BY
    * LOCATION (r11 ADVICE: grepping a fixture filename couples the
    * test to the fixture layout and to path rendering; a rename would
    * turn it vacuous). */
  private def scanLocations(plan: String): Seq[String] =
    "(?m)^.*Location:.*$".r.findAllIn(plan).toSeq

  /** Scans whose location is OUTSIDE the serve-index root — i.e. raw
    * corpus/fixture reads, however the fixture happens to be named. */
  private def corpusScans(plan: String): Seq[String] =
    scanLocations(plan).filterNot(_.contains("/graft_serve/"))

  test("serve-table names are pinned: every lineage keeps its catalog name for sfTest") {
    // The metastore and warehouse under target/ persist across JVMs: a
    // renamed table would orphan the previous name's location.
    val pinned = Map(
      "cfModelName" -> Seq("graft_itemcf_sim_a1e8d12c"),
      "cfRefreshedName" -> Seq("graft_itemcf_refreshed_a1e8d12c"),
      "cfStoreNames" -> Seq("graft_cfstore_counts_a1e8d12c", "graft_cfstore_model_a1e8d12c",
        "graft_cfstore_pairs_a1e8d12c", "graft_cfstore_strengths_a1e8d12c"),
      "cfChainNames" -> Seq("graft_cfadv_counts_a1e8d12c", "graft_cfadv_model_a1e8d12c",
        "graft_cfadv_pairs_a1e8d12c", "graft_cfadv_strengths_a1e8d12c"),
      "dedupIndexNames" -> Seq("graft_dedup_shingles_a1e8d12c", "graft_dedup_sizes_a1e8d12c"),
      "dedupGrowNames" -> Seq("graft_dedupgrow_shingles_a1e8d12c",
        "graft_dedupgrow_sizes_a1e8d12c"),
      "dedupCompactNames" -> Seq("graft_dedupcmp_shingles_a1e8d12c",
        "graft_dedupcmp_sizes_a1e8d12c", "graft_deduptomb_ids_a1e8d12c"),
      "serveTableNames" -> Seq("graft_ivf_cells_a1e8d12c", "graft_ivf_centroids_a1e8d12c",
        "graft_ivf_codebooks_a1e8d12c", "graft_ivf_codes_a1e8d12c",
        "graft_ivf_vectors_q_a1e8d12c"),
      "ingestIndexNames" -> Seq("graft_ivfing_centroids_a1e8d12c", "graft_ivfing_lists_a1e8d12c"),
      "compactIndexName" -> Seq("graft_ivfcmp_lists_a1e8d12c"),
      "pqIngestNames" -> Seq("graft_pqing_codebooks_a1e8d12c", "graft_pqing_codes_a1e8d12c",
        "graft_pqing_vectors_q_a1e8d12c"),
      "tombNames" -> Seq("graft_ivftomb_ids_a1e8d12c", "graft_ivftomb_lists_a1e8d12c"))
    val got = Map(
      "cfModelName" -> Seq(Recsys.cfModelName(sfTest)),
      "cfRefreshedName" -> Seq(Recsys.cfRefreshedName(sfTest)),
      "cfStoreNames" -> Recsys.cfStoreNames(sfTest).values.toSeq.sorted,
      "cfChainNames" -> Recsys.cfChainNames(sfTest).values.toSeq.sorted,
      "dedupIndexNames" -> Dedup.dedupIndexNames(sfTest).values.toSeq.sorted,
      "dedupGrowNames" -> Dedup.dedupGrowNames(sfTest).values.toSeq.sorted,
      "dedupCompactNames" -> Dedup.dedupCompactNames(sfTest).values.toSeq.sorted,
      "serveTableNames" -> Similarity.serveTableNames(sfTest).values.toSeq.sorted,
      "ingestIndexNames" -> Similarity.ingestIndexNames(sfTest).values.toSeq.sorted,
      "compactIndexName" -> Seq(Similarity.compactIndexName(sfTest)),
      "pqIngestNames" -> Similarity.pqIngestNames(sfTest).values.toSeq.sorted,
      "tombNames" -> Similarity.tombNames(sfTest).values.toSeq.sorted)
    pinned.foreach { case (f, names) => assert(got(f) === names, s"$f renamed a serve table") }
    assert(got.values.flatten.toSet.size === 30, "two lineages share a table name")
  }

  test("serving from the reloaded index is row-identical to the in-session build") {
    val served = Similarity.ivfServe(spark, sfTest).collect()
    val inSession = Similarity.ivfPq(spark, sfTest).collect()
    assert(served.nonEmpty, "serve output must be non-vacuous")
    assert(served.length === inSession.length)
    served.zip(inSession).foreach { case (a, b) =>
      assert(a === b, "served row diverges from the in-session build")
    }
  }

  test("reload causes zero re-assignment: persisted cells == a fresh assignment") {
    Similarity.ensureServeIndex(spark, sfTest)
    val names = Similarity.serveTableNames(sfTest)
    val reloaded = spark.table(names("cells")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val fresh = Similarity
      .cellAssignFrom(Tables.embeddings(spark, sfTest), Similarity.NCells)
      .select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(reloaded.length === fresh.length && reloaded.nonEmpty)
    assert(reloaded.sameElements(fresh),
      "persisted inverted lists must equal a from-scratch assignment bit for bit")
  }

  test("a fresh session reads the same persisted index (no lineage dependence)") {
    Similarity.ensureServeIndex(spark, sfTest)
    val names = Similarity.serveTableNames(sfTest)
    val s2 = spark.newSession() // fresh session state, shared catalog
    val viaFresh = s2.table(names("cells")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val viaBuilder = spark.table(names("cells")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(viaFresh.sameElements(viaBuilder) && viaFresh.nonEmpty)
    // the code table round-trips too (vec_id, sub, cluster all exact)
    val codesFresh = s2.table(names("codes"))
      .selectExpr("vec_id", "cast(sub as long)", "cast(cluster as long)").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val codesMemo = Training.pqCodes(spark, sfTest)
      .selectExpr("vec_id", "cast(sub as long)", "cast(cluster as long)").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(codesFresh.sameElements(codesMemo) && codesFresh.nonEmpty,
      "persisted PQ codes must equal the in-session memoized code table")
  }

  test("the serve plan reads the catalog index and scans the corpus exactly once") {
    val plan = Similarity.ivfServe(spark, sfTest).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    val names = Similarity.serveTableNames(sfTest)
    Seq("cells", "centroids", "codebooks", "codes", "vectors_q").foreach { t =>
      assert(plan.contains(names(t)), s"serve plan must read the persisted $t table")
    }
    val raw = corpusScans(plan)
    assert(raw.length === 1,
      s"serve must scan the raw corpus exactly once (the query vectors); saw:\n${raw.mkString("\n")}")
  }

  test("itemcf serve: recommendations from the persisted model match the in-session build") {
    val served = Recsys.itemcfServe(spark, sfTest).collect()
    val inSession = Recsys.itemcfRecommend(spark, sfTest).collect()
    assert(served.nonEmpty, "serve output must be non-vacuous")
    assert(served.length === inSession.length)
    served.zip(inSession).foreach { case (a, b) =>
      assert(a === b, "served recommendation diverges from the in-session build")
    }
    // the model table round-trips exactly (rk int, sim 6dp double, co long)
    val reloaded = spark.table(Recsys.cfModelName(sfTest))
      .orderBy("item_i", "rk").collect()
    val memo = Recsys.itemcfSimilarity(spark, sfTest)
      .orderBy("item_i", "rk").collect()
    assert(reloaded.length === memo.length && reloaded.nonEmpty)
    reloaded.zip(memo).foreach { case (a, b) =>
      assert(a === b, "persisted model row diverges from the trained model")
    }
  }

  test("ivf serve ingest: retrieval from the grown index equals the in-session frozen search") {
    val served = Similarity.ivfServeIngest(spark, sfTest).collect()
    val inSession = Similarity.ivfServeIngestTwin(spark, sfTest).collect()
    assert(served.nonEmpty, "grown-index retrieval must be non-vacuous")
    assert(served.length === inSession.length)
    served.zip(inSession).foreach { case (a, b) =>
      assert(a === b, "grown-index row diverges from the in-session frozen search")
    }
    // the batch genuinely grew the persisted lists: resident-only rows
    // < reloaded rows == corpus rows
    val names = Similarity.ingestIndexNames(sfTest)
    val grown = spark.table(names("lists")).count()
    val corpus = Tables.embeddings(spark, sfTest).count()
    assert(grown === corpus, "grown lists must cover base + batch")
    // serve plan: reloaded lists + centroids, corpus scanned once (queries)
    val plan = Similarity.ivfServeIngest(spark, sfTest).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    Seq("lists", "centroids").foreach { t =>
      assert(plan.contains(names(t)), s"serve plan must read the persisted $t table")
    }
    val raw = corpusScans(plan)
    assert(raw.length === 1,
      s"grown-index serve must scan the raw corpus exactly once (queries); saw:\n${raw.mkString("\n")}")
  }

  test("ivf compaction: the physical rewrite shrinks the file layout, retrieval is unchanged") {
    Similarity.ensureIngestCompact(spark, sfTest)
    import org.apache.spark.sql.catalyst.TableIdentifier
    def dataFiles(t: String): Int = {
      val loc = spark.sessionState.catalog.getTableMetadata(TableIdentifier(t)).location
      def walk(f: java.io.File): Seq[java.io.File] = {
        val k = Option(f.listFiles).map(_.toSeq).getOrElse(Nil)
        k.filter(_.isFile) ++ k.filter(_.isDirectory).flatMap(walk)
      }
      walk(new java.io.File(loc.getPath)).count(_.getName.startsWith("part-"))
    }
    val grownT = Similarity.ingestIndexNames(sfTest)("lists")
    val compactT = Similarity.compactIndexName(sfTest)
    // the grown table carries base-write + append files; the rewrite
    // lands one write's worth
    assert(dataFiles(compactT) < dataFiles(grownT),
      s"compaction must shrink the layout: ${dataFiles(compactT)} vs ${dataFiles(grownT)}")
    // same rows, bit for bit
    assert(spark.table(compactT).count() === spark.table(grownT).count())
    val served = Similarity.ivfServeCompact(spark, sfTest).collect()
    val grown = Similarity.ivfServeIngest(spark, sfTest).collect()
    assert(served.nonEmpty && served.length === grown.length)
    served.zip(grown).foreach { case (a, b) =>
      assert(a === b, "compacted retrieval diverges from the grown index")
    }
  }

  test("pq ingest: batch encoded against reloaded frozen codebooks; resident files untouched") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.functions.col
    def dataFiles(t: String): Map[String, Long] = {
      val loc = spark.sessionState.catalog.getTableMetadata(TableIdentifier(t)).location
      def walk(f: java.io.File): Seq[java.io.File] = {
        val k = Option(f.listFiles).map(_.toSeq).getOrElse(Nil)
        k.filter(_.isFile) ++ k.filter(_.isDirectory).flatMap(walk)
      }
      walk(new java.io.File(loc.getPath)).filter(_.getName.startsWith("part-"))
        .map(f => f.getName -> f.length).toMap
    }
    Similarity.ensurePqIngestIndex(spark, sfTest)
    val names = Similarity.pqIngestNames(sfTest)
    val residentBefore = dataFiles(names("codes"))
    Similarity.ensurePqIngestAppend(spark, sfTest)
    val after = dataFiles(names("codes"))
    residentBefore.foreach { case (n, len) =>
      assert(after.get(n).contains(len),
        s"append must not rewrite resident code file $n")
    }
    assert(after.size > residentBefore.size,
      "the append must land new per-bucket files")
    // the grown code table covers the full corpus, one code per
    // (vector, subspace), and equals a from-scratch frozen encode
    val es = Training.pqSub(spark, sfTest)
    val frozenCb = spark.table(names("codebooks"))
    val expected = Training.pqCodesOf(es, frozenCb)
      .selectExpr("vec_id", "cast(sub as long) sub", "cast(cluster as long) cluster")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val got = spark.table(names("codes"))
      .selectExpr("vec_id", "cast(sub as long) sub", "cast(cluster as long) cluster")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.nonEmpty && got.sameElements(expected),
      "grown code table must equal a from-scratch encode against the frozen codebooks")
    // serve plan: every PQ + coarse artifact from the catalog, corpus
    // scanned exactly once (the query vectors)
    val plan = Similarity.ivfServePqIngest(spark, sfTest).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    (Seq("codebooks", "codes", "vectors_q").map(names) ++
      Seq("lists", "centroids").map(Similarity.ingestIndexNames(sfTest))).foreach { t =>
      assert(plan.contains(t), s"PQ-ingest serve plan must read the persisted $t table")
    }
    val raw = corpusScans(plan)
    assert(raw.length === 1,
      s"PQ-ingest serve must scan the raw corpus exactly once; saw:\n${raw.mkString("\n")}")
    // the drift audit is non-vacuous: both variants emit, frozen ≤ retrained denominator shared
    val recall = Similarity.pqIngestRecall(spark, sfTest).collect()
    assert(recall.length === 2 && recall.forall(_.getLong(1) > 0))
  }

  test("ivf delete: masked serve == compacted serve; tombstoned rows physically gone") {
    import org.apache.spark.sql.functions.col
    val masked = Similarity.ivfServeDelete(spark, sfTest).collect()
    val erased = Similarity.ivfServeDeleteCompact(spark, sfTest).collect()
    assert(masked.nonEmpty && masked.length === erased.length)
    masked.zip(erased).foreach { case (a, b) =>
      assert(a === b, "masked serve diverges from the post-erasure serve")
    }
    // no tombstoned vector is ever returned
    assert(masked.forall(r => r.getLong(3) % Similarity.TombMod != Similarity.TombRem),
      "a tombstoned vector leaked into the retrieval output")
    // physical erasure: compacted rows == grown − tombstoned, and no
    // tombstoned id remains in the compacted table
    val grownT = Similarity.ingestIndexNames(sfTest)("lists")
    val compT = Similarity.tombNames(sfTest)("lists")
    val nTomb = spark.table(Similarity.tombNames(sfTest)("tombstones")).count()
    assert(nTomb > 0, "the tombstone set must be non-empty")
    assert(spark.table(compT).count() === spark.table(grownT).count() - nTomb)
    assert(spark.table(compT)
      .where(col("vec_id") % Similarity.TombMod === Similarity.TombRem).count() === 0L,
      "tombstoned rows must be physically absent after compaction")
    // and the mask genuinely bites at this fixture: the deleted serve
    // differs from the undeleted grown serve
    val undeleted = Similarity.ivfServeIngest(spark, sfTest).collect()
    assert(!masked.sameElements(undeleted),
      "the tombstone mask changed nothing — vacuous delete fixture")
  }

  test("dedup compact: fewer files, identical rows, identical serve") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    Dedup.ensureDedupCompact(spark, sfTest)
    def nFiles(t: String): Int = {
      val loc = spark.sessionState.catalog.getTableMetadata(TableIdentifier(t)).location
      def walk(f: java.io.File): Seq[java.io.File] = {
        val k = Option(f.listFiles).map(_.toSeq).getOrElse(Nil)
        k.filter(_.isFile) ++ k.filter(_.isDirectory).flatMap(walk)
      }
      walk(new java.io.File(loc.getPath)).count(_.getName.startsWith("part-"))
    }
    val grown = Dedup.dedupGrowNames(sfTest)
    val comp = Dedup.dedupCompactNames(sfTest)
    assert(nFiles(comp("shingles")) < nFiles(grown("shingles")),
      s"compaction must shrink the shingle layout: ${nFiles(comp("shingles"))} vs ${nFiles(grown("shingles"))}")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getString(1))
    val a = spark.table(comp("shingles")).select("doc_id", "s").collect().map(key).sorted
    val b = spark.table(grown("shingles")).select("doc_id", "s").collect().map(key).sorted
    assert(a.nonEmpty && a.sameElements(b), "compaction must be a pure physical rewrite")
    val servedC = Dedup.dedupServeCompact(spark, sfTest).collect()
    val servedG = Dedup.dedupServeGrow(spark, sfTest).collect()
    assert(servedC.nonEmpty && servedC.length === servedG.length)
    servedC.zip(servedG).foreach { case (x, y) =>
      assert(x === y, "compacted serve diverges from the grown serve")
    }
  }

  test("dedup delete: tombstoned residents can never be reported as duplicates") {
    val masked = Dedup.dedupServeDelete(spark, sfTest).collect()
    assert(masked.nonEmpty, "deletion-leg output must be non-vacuous")
    assert(masked.forall(_.getLong(1) % Dedup.DedupTombMod != 0),
      "a tombstoned resident leaked into dup_of")
    // the mask bites at this fixture: the plain serve DOES report a
    // tombstoned resident for some batch doc
    val plain = Dedup.dedupServe(spark, sfTest).collect()
    assert(plain.exists(_.getLong(1) % Dedup.DedupTombMod == 0),
      "vacuous delete fixture — no plain-serve match is tombstoned")
  }

  test("ivf serve filtered: the reloaded index answers the filtered request identically") {
    val served = Similarity.ivfServeFiltered(spark, sfTest).collect()
    val inSession = Similarity.ivfPqFiltered(spark, sfTest).collect()
    assert(served.nonEmpty, "filtered serve output must be non-vacuous")
    assert(served.length === inSession.length)
    served.zip(inSession).foreach { case (a, b) =>
      assert(a === b, "filtered serve row diverges from the in-session filtered build")
    }
  }

  test("itemcf refresh: the delta-merged model is row-identical to the from-scratch rebuild") {
    val refreshed = Recsys.itemcfRefresh(spark, sfTest).collect()
    val fresh = Recsys.itemcfSimilarity(spark, sfTest).orderBy("item_i", "rk").collect()
    assert(refreshed.nonEmpty, "refresh output must be non-vacuous")
    assert(refreshed.length === fresh.length)
    refreshed.zip(fresh).foreach { case (a, b) =>
      assert(a === b, "refreshed model row diverges from the from-scratch rebuild")
    }
  }

  test("itemcf refresh: batch pass scans only post-split rows; the merge never rescans history") {
    Recsys.ensureCfStore(spark, sfTest)
    // the one corpus-sized pass (pre-checkpoint, exposed for the pin —
    // localCheckpoint hides upstream stages): exactly one orders scan,
    // carrying the pushed post-split predicate
    val batchPlan = Recsys.postSplitDelta(spark, sfTest).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(corpusScans(batchPlan).length === 2, // orders + lineitem, once each
      s"batch pass must scan orders+lineitem once each:\n${corpusScans(batchPlan).mkString("\n")}")
    assert(batchPlan.contains("GreaterThanOrEqual(o_orderdate"),
      "the orders scan must push the post-split filter down")
    // the strength-merge stage (r13: severed — its store read no longer
    // shows in the final explain, so pin it on the shared pre-checkpoint
    // plan, which IS the first checkpoint job's plan by construction):
    // reads the persisted strengths store, zero fixture scans
    val names = Recsys.cfStoreNames(sfTest)
    val mergePlan = Recsys.mergedStrengthsPlan(
        spark.table(names("strengths")), Recsys.postSplitDelta(spark, sfTest).localCheckpoint())
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(mergePlan.contains(names("strengths")),
      "the strength merge must read the persisted strengths store")
    assert(corpusScans(mergePlan).isEmpty,
      s"the strength merge must not rescan any fixture table:\n${corpusScans(mergePlan).mkString("\n")}")
    // the refresh plan proper: the checkpointed batch/deltas plus the
    // persisted pair/count/model stores — ZERO fixture scans, i.e.
    // pre-split interactions are never rescanned
    val plan = Recsys.itemcfRefresh(spark, sfTest).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    Seq("pairs", "counts").foreach { t =>
      assert(plan.contains(names(t)), s"refresh must read the persisted $t store")
    }
    assert(corpusScans(plan).isEmpty,
      s"the refresh merge must not rescan any fixture table:\n${corpusScans(plan).mkString("\n")}")
  }

  test("itemcf refresh publish: serving from the published refreshed model equals the plain recommend") {
    val served = Recsys.itemcfRefreshServe(spark, sfTest).collect()
    val plain = Recsys.itemcfRecommend(spark, sfTest).collect()
    assert(served.nonEmpty && served.length === plain.length)
    served.zip(plain).foreach { case (a, b) =>
      assert(a === b, "refresh-published serving diverges from the fresh-model recommend")
    }
    // the published table really is the refreshed model, row for row
    val pub = spark.table(Recsys.cfRefreshedName(sfTest)).orderBy("item_i", "rk").collect()
    val refreshed = Recsys.itemcfRefresh(spark, sfTest).collect()
    assert(pub.length === refreshed.length && pub.nonEmpty)
    pub.zip(refreshed).foreach { case (a, b) => assert(a === b) }
  }

  test("itemcf refresh: the delta-proportional rerank equals the full-model rerank") {
    // r13: the registry path unions untouched persisted-model rows with
    // a re-rank of only the affected items; the r12 full-tail shape
    // (no oldModelOpt) is the semantics anchor — both must agree row
    // for row on the fixture store + batch
    Recsys.ensureCfStore(spark, sfTest)
    val names = Recsys.cfStoreNames(sfTest)
    val post = Recsys.postSplitDelta(spark, sfTest).localCheckpoint()
    def arm(model: Option[org.apache.spark.sql.DataFrame]) =
      Recsys.refreshFrom(spark.table(names("strengths")), spark.table(names("pairs")),
        spark.table(names("counts")), post, oldModelOpt = model)
        .orderBy("item_i", "rk").collect()
    val incremental = arm(Some(spark.table(names("model"))))
    val full = arm(None)
    assert(incremental.nonEmpty && incremental.length === full.length)
    incremental.zip(full).foreach { case (a, b) =>
      assert(a === b, "delta-proportional rerank diverges from the full rerank")
    }
  }

  test("itemcf refresh chain: two sequential refreshes from the advanced store == from-scratch") {
    val chained = Recsys.itemcfRefreshChain(spark, sfTest).collect()
    val fresh = Recsys.itemcfSimilarity(spark, sfTest).orderBy("item_i", "rk").collect()
    assert(chained.nonEmpty && chained.length === fresh.length)
    chained.zip(fresh).foreach { case (a, b) =>
      assert(a === b, "chained refresh diverges from the from-scratch rebuild")
    }
    // the advanced store really is the corpus-<ChainDate snapshot: its
    // strengths equal a from-scratch pre-ChainDate train
    val adv = Recsys.cfChainNames(sfTest)
    import org.apache.spark.sql.functions.col
    val advStr = spark.table(adv("strengths"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val scratch = Recsys.deltaBetween(spark, sfTest, "1900-01-01", Some(Recsys.ChainDate))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(advStr.nonEmpty && advStr.sameElements(scratch),
      "advanced strength store must equal a from-scratch pre-ChainDate aggregate")
  }

  test("itemcf refresh chain: refresh #2 scans only batch 2") {
    Recsys.ensureChainStore(spark, sfTest)
    // the b2 extractor: exactly orders+lineitem once each, with the
    // pushed lower bound (no upper bound on the open window)
    val b2Plan = Recsys.deltaBetween(spark, sfTest, Recsys.ChainDate, None)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(corpusScans(b2Plan).length === 2,
      s"batch-2 pass must scan orders+lineitem once each:\n${corpusScans(b2Plan).mkString("\n")}")
    assert(b2Plan.contains("GreaterThanOrEqual(o_orderdate"),
      "the orders scan must push the batch-2 lower bound down")
    // the chained refresh proper: advanced-store tables only, ZERO
    // fixture scans — history (including b1) is never rescanned
    val adv = Recsys.cfChainNames(sfTest)
    // the strength-merge stage of refresh #2 (severed; pinned on the
    // shared pre-checkpoint plan, as in the refresh test above): reads
    // the ADVANCED strengths snapshot, zero fixture scans
    val mergePlan = Recsys.mergedStrengthsPlan(
        spark.table(adv("strengths")),
        Recsys.deltaBetween(spark, sfTest, Recsys.ChainDate, None).localCheckpoint())
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(mergePlan.contains(adv("strengths")),
      "refresh #2's strength merge must read the advanced strengths store")
    assert(corpusScans(mergePlan).isEmpty,
      s"refresh #2's strength merge must not rescan fixtures:\n${corpusScans(mergePlan).mkString("\n")}")
    val plan = Recsys.itemcfRefreshChain(spark, sfTest).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    Seq("pairs", "counts").foreach { t =>
      assert(plan.contains(adv(t)), s"chained refresh must read the advanced $t store")
    }
    // r13 adaptive tail: the advanced MODEL store is read only on the
    // delta-proportional path — replicate the gate to know which tail
    // shape this fixture produces, and pin the plan matches it
    val m2 = Recsys.mergeStats(spark.table(adv("strengths")), spark.table(adv("pairs")),
      spark.table(adv("counts")),
      Recsys.deltaBetween(spark, sfTest, Recsys.ChainDate, None).localCheckpoint())
    val deltaPath = Recsys.rerankDelta(m2.cntDelta.count(), spark.table(adv("counts")).count())
    assert(plan.contains(adv("model")) === deltaPath,
      s"chained refresh must read the advanced model store iff the adaptive tail is delta-proportional (deltaPath=$deltaPath)")
    assert(corpusScans(plan).isEmpty,
      s"refresh #2 must not rescan any fixture table:\n${corpusScans(plan).mkString("\n")}")
  }

  test("itemcf delete: refresh-with-deletes == rebuild-without-deleted, with zero corpus scans") {
    import org.apache.spark.sql.functions.col
    val deleted = Recsys.itemcfDelete(spark, sfTest).collect()
    // rebuild arm: the frozen pipeline over interactions that never
    // contained the victims
    val survivors = Recsys.deltaBetween(spark, sfTest, "1900-01-01", Some(Recsys.SplitDate))
      .where(col("user_id") % Recsys.DeleteMod =!= 0)
    val capped = Recsys.capHistories(survivors).localCheckpoint()
    val rebuilt = Recsys.itemcfSimFrom(capped,
        Recsys.pairsWithin(capped.select("user_id", "item_id"), "user_id", "item_id")
          .groupBy("pk").agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("co")))
      .collect()
    assert(deleted.nonEmpty && deleted.length === rebuilt.length)
    deleted.zip(rebuilt).foreach { case (a, b) =>
      assert(a === b, "delete-refresh diverges from the rebuild-without-deleted")
    }
    // the victims are really gone: no surviving pair involves a
    // deleted-only item... (item-level absence is corpus-dependent);
    // what IS universally pinned: the whole delete plan reads ONLY the
    // persisted store — zero fixture scans (a GDPR delete needs no
    // corpus pass)
    val plan = Recsys.itemcfDelete(spark, sfTest).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(corpusScans(plan).isEmpty,
      s"the delete refresh must not scan any fixture table:\n${corpusScans(plan).mkString("\n")}")
  }

  test("dedup serve: batch dedup from the reloaded index matches the in-session pass") {
    val served = Dedup.dedupServe(spark, sfTest).collect()
    val inSession = Dedup.incrementalDedup(spark, sfTest).collect()
    assert(served.nonEmpty, "serve output must be non-vacuous")
    assert(served.length === inSession.length)
    served.zip(inSession).foreach { case (a, b) =>
      assert(a === b, "served dedup row diverges from the in-session pass")
    }
  }

  test("dedup serve grow: the grown index equals standing + wave-1 survivors, and serve reads it") {
    Dedup.ensureDedupGrow(spark, sfTest)
    val names = Dedup.dedupGrowNames(sfTest)
    import org.apache.spark.sql.functions.col
    val sh = Dedup.shingles(spark, sfTest)
    // in-session twin of the admission step
    val standing = sh.where(col("doc_id") < Dedup.IncrementalFrom)
    val wave1 = sh.where(col("doc_id") >= Dedup.IncrementalFrom &&
                         col("doc_id") < Dedup.GrowMid)
    val w1DupIds = Dedup.incrementalDedup(spark, sfTest)
      .where(col("new_id") < Dedup.GrowMid).select(col("new_id").as("doc_id"))
    val expected = standing.unionByName(
        wave1.join(w1DupIds, Seq("doc_id"), "left_anti"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val grown = spark.table(names("shingles"))
      .select("doc_id", "s").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(grown.nonEmpty && grown.length === expected.length)
    assert(grown.sameElements(expected),
      "grown index must equal standing corpus + wave-1 survivors exactly")
    // serve reads only the grown tables + the fresh wave-2 shingles
    val out = Dedup.dedupServeGrow(spark, sfTest).collect()
    assert(out.nonEmpty, "wave-2 dedup against the grown index must be non-vacuous")
    val plan = Dedup.dedupServeGrow(spark, sfTest).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    Seq("shingles", "sizes").foreach { t =>
      assert(plan.contains(names(t)), s"grown serve plan must read the persisted $t table")
    }
  }

  test("r12 lineages: a fresh session reads the grown, store, refreshed and compacted tables") {
    Similarity.ensureIngestCompact(spark, sfTest)
    Recsys.ensureRefreshedModel(spark, sfTest)
    Dedup.ensureDedupGrow(spark, sfTest)
    val s2 = spark.newSession() // fresh session state, shared catalog
    def same(t: String): Unit =
      assert(s2.table(t).count() === spark.table(t).count() && s2.table(t).count() > 0,
        s"fresh session must read $t identically")
    same(Similarity.ingestIndexNames(sfTest)("lists"))
    same(Similarity.compactIndexName(sfTest))
    same(Recsys.cfRefreshedName(sfTest))
    same(Recsys.cfStoreNames(sfTest)("pairs"))
    same(Recsys.cfStoreNames(sfTest)("strengths"))
    same(Dedup.dedupGrowNames(sfTest)("shingles"))
  }

  test("dedup serve: the persisted inverted index round-trips and a fresh session reads it") {
    Dedup.ensureDedupIndex(spark, sfTest)
    val names = Dedup.dedupIndexNames(sfTest)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getString(1))
    val reloaded = spark.table(names("shingles"))
      .select("doc_id", "s").collect().map(key).sorted
    val fresh = Dedup.shingles(spark, sfTest)
      .where(org.apache.spark.sql.functions.col("doc_id") < Dedup.IncrementalFrom)
      .select("doc_id", "s").collect().map(key).sorted
    assert(reloaded.length === fresh.length && reloaded.nonEmpty)
    assert(reloaded.sameElements(fresh),
      "persisted inverted shingle index must equal a fresh standing-corpus build")
    val s2 = spark.newSession()
    val viaFresh = s2.table(names("shingles"))
      .select("doc_id", "s").collect().map(key).sorted
    assert(viaFresh.sameElements(reloaded))
    // the serve plan reads the persisted tables
    val plan = Dedup.dedupServe(spark, sfTest).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    Seq("shingles", "sizes").foreach { t =>
      assert(plan.contains(names(t)), s"dedup serve plan must read the persisted $t table")
    }
  }
}
