package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

/** Plan-quality assertions for the headline queries: filters reach the
  * parquet scan, projections prune the read schema, small dims broadcast,
  * and shuffle counts stay at the expected minimum. These are the
  * properties that decide 100 TB behaviour — pinned here so a refactor
  * can't silently regress them. Assertions run on the executed (post-AQE)
  * plan's string form, which flattens QueryStageExec wrappers. */
class PlanQualitySpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def finalPlan(name: String): String = {
    // these pins assert each query's OWN standalone plan. Under the
    // shared test SparkSession, a query another suite ran earlier may
    // have left a persisted subtree behind (e.g. q_para_dedup's paras
    // relation), and the CacheManager then substitutes an
    // InMemoryRelation into THIS query's plan — order-dependent scan
    // counts and nested plan sections that truncate naive string
    // matching. Clearing the cache first makes every pin deterministic.
    // Serving-cache frames (e.g. the TF-IDF probe's SessionCache entry)
    // outlive clearCache and would be reused with their persistence
    // gone, so they are released too.
    spark.catalog.clearCache()
    ServingCaches.release(spark, None)
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect() // force execution so AQE finalizes stage plans
    // keep only the OUTER final-plan section (the marker at column 0):
    // nested AdaptiveSparkPlan sections from cached subtrees would
    // otherwise truncate the outer tree mid-plan
    df.queryExecution.executedPlan.toString
      .split("(?m)^\\+- == Initial Plan ==").head
  }

  test("q_scan_project: shipdate filter is pushed to the parquet scan and schema is pruned") {
    val plan = finalPlan("q_scan_project")
    assert(plan.contains("PushedFilters: ") &&
      plan.matches("(?s).*PushedFilters: \\[[^\\n]*l_shipdate.*"),
      s"shipdate filter not pushed:\n$plan")
    // the FileScan line may truncate with "..." before the closing '>',
    // so capture to end-of-line rather than requiring the bracket
    val readSchema = "ReadSchema: struct<([^>\\n]*)".r.findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_returnflag") &&
      !readSchema.contains("l_partkey"),
      s"read schema not pruned to the projected+filter columns: $readSchema")
  }

  test("q_join_pricing: customer dim joins via broadcast, not shuffle") {
    val plan = finalPlan("q_join_pricing")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast hash join:\n$plan")
  }

  test("q_lww_merge_columns: one agg shuffle + one presentation sort, nothing else") {
    // AQE's toString prints Final Plan then Initial Plan — count only the final
    val plan = finalPlan("q_lww_merge_columns")
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected <=2 exchanges (agg + order-by), got $exchanges:\n$plan")
    assert(plan.contains("partial_max_by") || plan.contains("partial_"),
      s"no map-side partial aggregation:\n$plan")
  }

  test("q_compact_rows: no pre-nesting shuffle — the merge's two aggs + presentation sort only") {
    val plan = finalPlan("q_compact_rows")
    val hash = "Exchange hashpartitioning".r.findAllIn(plan).size
    val range = "Exchange rangepartitioning".r.findAllIn(plan).size
    assert(hash == 1 && range <= 1,
      s"expected the (key) agg shuffle + order-by, got hash=$hash range=$range:\n$plan")
    assert(!plan.contains("Join"), s"compaction must not join:\n$plan")
  }

  test("q_compact_salted: the plain shape, no salt shuffle") {
    val plan = finalPlan("q_compact_salted")
    val hash = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hash == 1, s"expected plain's one (key) agg shuffle, got $hash:\n$plan")
    assert(!plan.contains("Join"), s"salting must not introduce a join:\n$plan")
  }

  test("q_dedup_apply: the non-canonical set broadcasts into an anti-join — corpus never shuffled") {
    val plan = finalPlan("q_dedup_apply")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"apply must broadcast-anti-join the dropped set:\n$plan")
  }

  test("q_tombstone_filter: tombstone relation broadcasts; fact table is not shuffled") {
    // the tiny tombstone agg itself may shuffle; the JOIN must broadcast so
    // the fact side is never hash-repartitioned for it
    val plan = finalPlan("q_tombstone_filter")
    assert(plan.contains("BroadcastHashJoin"), s"tombstone join should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"fact table must not sort-merge-join:\n$plan")
  }

  test("q_ann_ivf: candidate join is a broadcast equi-join on the cell") {
    val plan = finalPlan("q_ann_ivf")
    assert(plan.contains("BroadcastHashJoin"), s"IVF probe should broadcast the query side:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"IVF must not cross-join:\n$plan")
  }

  test("q_agg_summary: partial (map-side) aggregation before the shuffle") {
    val plan = finalPlan("q_agg_summary")
    assert(plan.contains("partial_sum") || plan.contains("partial_"),
      s"no partial aggregation:\n$plan")
  }

  test("q_simhash_pairs: bit-block candidates equi-join — no all-pairs join") {
    val plan = finalPlan("q_simhash_pairs")
    assert(!plan.contains("CartesianProduct"), s"simhash pairs must not cross-join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"simhash pairs must not nested-loop-join:\n$plan")
  }

  test("q_dedup_embedding: candidates come from the cell equi-join — no all-pairs join") {
    val plan = finalPlan("q_dedup_embedding")
    assert(!plan.contains("CartesianProduct"), s"embedding dedup must not cross-join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"embedding dedup must not nested-loop-join:\n$plan")
  }

  test("q_ann_kmeans: candidate access is a broadcast equi-join; vectors never sort-merge-join") {
    val plan = finalPlan("q_ann_kmeans")
    assert(plan.contains("BroadcastHashJoin"),
      s"probe/candidate join should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no vector relation should sort-merge-join:\n$plan")
    // the only nested-loop joins are the tiny (queries|vectors) × centroids
    // assignment/ranking passes — never candidate × candidate
    assert(!plan.contains("CartesianProduct"), s"no cartesian product:\n$plan")
  }

  test("q_asof_join: union-window shape — no inequality join anywhere") {
    val plan = finalPlan("q_asof_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"as-of join must not materialize the range condition as a BNLJ:\n$plan")
    assert(plan.contains("Window"), s"expected the union-window formulation:\n$plan")
  }

  test("q_interval_join: bucketed equi-join — containment is a residual filter, not a BNLJ") {
    val plan = finalPlan("q_interval_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval join must equi-join on the bucket:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), s"expected an equi-join on the bucket:\n$plan")
  }

  test("q_shard_pack: packing windows are partitioned by the hash bucket") {
    val plan = finalPlan("q_shard_pack")
    val unpartitioned = "windowspecdefinition\\(doc_id#".r.findAllIn(plan).size
    assert(unpartitioned == 0, s"found unpartitioned global packing window:\n$plan")
    assert("windowspecdefinition\\(bucket#\\d+L?, doc_id#".r.findAllIn(plan).nonEmpty,
      s"expected bucket-partitioned cumulative-sum windows:\n$plan")
  }

  test("q_repetition: narrow per-doc plan — no shuffle before the presentation sort") {
    val plan = finalPlan("q_repetition")
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(plan).size
    assert(exchanges <= 1, s"repetition scoring must not shuffle (only the order-by):\n$plan")
  }

  test("q_minhash_signatures: narrow one-pass signatures — no aggregation shuffle") {
    val plan = finalPlan("q_minhash_signatures")
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(plan).size
    assert(exchanges <= 1,
      s"signatures must not shuffle (only the presentation order-by may):\n$plan")
    assert(plan.contains("minhash_signature"), s"expected the native expression:\n$plan")
  }

  test("q_decontaminate: ONE corpus shingle pass — eval set broadcast into a " +
    "marking left join, totals and overlaps from one aggregation (r19)") {
    val plan = finalPlan("q_decontaminate")
    // r19: the semi-join + separate totals agg + stitch join (two corpus
    // explodes) fused into one broadcast LEFT join over the distinct eval
    // set plus one per-doc aggregation counting totals and hits together
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftOuter"),
      s"eval-set marking should be a broadcast left join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"decontamination must never go pairwise:\n$plan")
    val trainExplodes = "Generate explode".r.findAllIn(plan).size
    assert(trainExplodes <= 2, // one train-side + the tiny eval-side branch
      s"the corpus shingle explode doubled up again ($trainExplodes):\n$plan")
  }

  test("q_json_extract: narrow extract + one aggregation shuffle") {
    val plan = finalPlan("q_json_extract")
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected agg + order-by exchanges only, got $exchanges:\n$plan")
    assert(plan.contains("partial_"), s"no map-side partial aggregation:\n$plan")
  }

  test("q_range_splits: row-level windows are partitioned; only the per-range summary is globally ordered") {
    val plan = finalPlan("q_range_splits")
    // A window spec that STARTS with the ts ordering column has no
    // partition columns — the full-data single-partition shape this query
    // used to ship (VERDICT r1 wrong-#3). All row-level windows must be
    // partitioned by the coarse range (_cb); the only unpartitioned specs
    // left order by _cb itself — the stitch over the tiny groupBy summary.
    val unpartitionedRowWindows = "windowspecdefinition\\(ts_ms#".r.findAllIn(plan).size
    assert(unpartitionedRowWindows == 0,
      s"found unpartitioned full-data window(s):\n$plan")
    assert("windowspecdefinition\\(_cb#\\d+L?, ts_ms#".r.findAllIn(plan).nonEmpty,
      s"expected _cb-partitioned row-level windows:\n$plan")
  }

  test("q_dup_spans: digests shuffle, text never does; no pairwise doc join") {
    val plan = finalPlan("q_dup_spans")
    // linear pipeline: the only joins are digest equi-joins (the dup set
    // back onto the window relation); an all-pairs/suffix-array shape
    // would surface as a cartesian or a doc×doc join
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q_dup_spans must not do pairwise document comparison:\n$plan")
    // every exchange carries digests/positions, never the text column
    val exchanges = "Exchange [a-z]+partitioning\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("text")),
      s"an exchange carries document text:\n$exchanges")
    // frequency table is a SINGLE-PHASE map-side-combinable hash agg on
    // the digest (r19: ">= 2 distinct docs" as min != max — the
    // distinct-count rewrite's Expand + dedup layer must stay gone)
    assert(plan.contains("partial_min") && plan.contains("partial_max"),
      s"no partial min/max on the digest table:\n$plan")
    assert(!plan.contains("partial_count(distinct"),
      s"the two-layer distinct-count shape crept back:\n$plan")
  }

  test("q_dup_spans_apply: corpus tokens never explode or shuffle — span " +
    "removal is a narrow array filter under a broadcast span join (r19)") {
    val plan = finalPlan("q_dup_spans_apply")
    assert(!plan.contains("CartesianProduct"),
      s"unexpected cartesian over the corpus:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"the per-token containment BNLJ is gone in the r19 shape:\n$plan")
    // r19: the corpus text is never exploded at all — spans aggregate to
    // a per-doc array, broadcast onto the documents scan, and the clean
    // text rebuilds as a per-row array filter. A Generate over the
    // documents relation would mean the corpus-tokens shuffle came back.
    val explodes = "Generate posexplode".r.findAllIn(plan).length
    assert(explodes == 0, s"expected ZERO corpus posexplodes, got $explodes:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftOuter"),
      s"spans must broadcast-left-join onto the corpus:\n$plan")
  }

  test("q_ann_*_served: serving NEVER trains — after the index fixture's " +
    "one-time build, repeated served runs trigger zero Lloyd trainings " +
    "and their plans carry no median aggregate (VERDICT r12 Next #1)") {
    // first touch may build the index (one CALL -> two trainings); that
    // is the amortized cost this feature exists to pay exactly once
    SparkEntry.queries("q_ann_kmeans_served")(spark, sfDir).collect()
    val after = SimilarityQueries.trainingsRun.get()
    val servedK = SparkEntry.queries("q_ann_kmeans_served")(spark, sfDir)
    servedK.collect()
    val servedI = SparkEntry.queries("q_ann_ivfpq_served")(spark, sfDir)
    servedI.collect()
    assert(SimilarityQueries.trainingsRun.get() == after,
      "a served query re-ran Lloyd training — the persisted index is not " +
        "being served")
    for ((df, name) <- Seq(servedK -> "kmeans_served", servedI -> "ivfpq_served")) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("median"),
        s"$name plan contains a training-stage median aggregate:\n$plan")
    }
    // and the counter itself is live: an in-query twin DOES train
    SparkEntry.queries("q_ann_kmeans")(spark, sfDir).collect()
    assert(SimilarityQueries.trainingsRun.get() > after,
      "the training counter must observe the twin's fresh training")
  }

  test("q_ann_rerank: the exact vectors arrive via covering-index POINT " +
    "READS (ExistingRDD), never an embedding-table scan for candidates, " +
    "and the plan still trains nothing (round 15)") {
    SparkEntry.queries("q_ann_rerank")(spark, sfDir).collect() // fixture
    val before = SimilarityQueries.trainingsRun.get()
    val df = SparkEntry.queries("q_ann_rerank")(spark, sfDir)
    df.collect()
    assert(SimilarityQueries.trainingsRun.get() == before,
      "the rerank query re-ran Lloyd training")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"),
      s"shortlist vectors must arrive from the point-read relation:\n$plan")
    assert(!plan.toLowerCase.contains("median"),
      s"rerank plan contains a training-stage median aggregate:\n$plan")
  }

  test("q_dedup_incremental machinery: the store probe plans indexOnly " +
    "(no Data.db IO), novelty is a narrow id anti-join + broadcast text " +
    "fetch, and document text never rides an exchange (VERDICT r12 #2)") {
    // a deliberately PARTIAL store (two thirds of the corpus): the full
    // fixture store would make AQE fold the empty anti-join away and
    // leave no plan shape to pin
    val dir = java.nio.file.Files.createTempDirectory("pq-sigstore").toString
    val corpus0 = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    SignatureStore.signatureRows(
        SignatureStore.signatures(corpus0.where("doc_id % 3 < 2")))
      .write.format("sstable").mode("append").save(dir)
    val probe = SignatureStore.storedIds(spark, dir)
    probe.collect()
    val probePlan = probe.queryExecution.executedPlan.toString
    assert(probePlan.contains("indexOnly"),
      s"the store probe must be a key-only Index.db scan:\n$probePlan")
    val (novel, releaseIds) =
      SignatureStore.novelDocs(corpus0, SignatureStore.storedIds(spark, dir))
    try {
      val delta = SignatureStore.signatures(novel)
      assert(delta.count() > 0, "the partial store must leave a real delta")
      delta.collect()
      val plan = delta.queryExecution.executedPlan.toString
      assert(plan.contains("LeftAnti"), s"no anti-join on stored ids:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"the delta-sized novel-id set must broadcast into the text fetch:\n$plan")
      val exchanges = "Exchange [a-z]+partitioning\\(([^)]*)\\)".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(exchanges.forall(!_.contains("text")),
        s"an exchange carries document text:\n$exchanges")
    } finally releaseIds()
    // the broadcast hint is SIZE-GATED (round 15, VERDICT r14 #4): a
    // merge-scale delta must NOT force-broadcast an id set proportional
    // to a whole second corpus. Pin the gate itself on the optimized
    // plan's join hint — the physical join may still end up broadcast
    // via AQE's own statistics, which is exactly the point: the
    // optimizer decides from sizes, not from an unconditional hint.
    val (hinted, rel1) = SignatureStore.gatedNovelJoin(
      corpus0, SignatureStore.storedIds(spark, dir), "doc_id",
      broadcastMaxRows = Long.MaxValue)
    val (unhinted, rel2) = SignatureStore.gatedNovelJoin(
      corpus0, SignatureStore.storedIds(spark, dir), "doc_id",
      broadcastMaxRows = 0L)
    try {
      assert(hinted.queryExecution.optimizedPlan.toString
        .contains("strategy=broadcast"),
        "a delta-sized novel-id set must carry the broadcast hint")
      assert(!unhinted.queryExecution.optimizedPlan.toString
        .contains("strategy=broadcast"),
        "an over-threshold novel-id set must NOT carry the broadcast hint")
    } finally { rel1(); rel2() }
  }

  test("q_tfidf_served: the corpus is read ONCE (the per-doc tf pass) — " +
    "df and n_docs come from the persisted store's sstable scan, never " +
    "a second corpus-wide vocabulary aggregation (round 14)") {
    val plan = finalPlan("q_tfidf_served")
    val parquetScans = "Scan parquet".r.findAllIn(plan).size
    assert(parquetScans == 1,
      s"expected exactly one corpus scan, got $parquetScans:\n$plan")
    assert(plan.contains("sstable"),
      s"df must load from the persisted store's sstable scan:\n$plan")
    // the twin's shape: df is a SECOND aggregation over the corpus tf
    // relation; serving must not contain a count-distinct-docs pass
    assert(!plan.contains("count(distinct"),
      s"a corpus-wide n_docs aggregation crept into the served plan:\n$plan")
  }

  test("q_tfidf_delta: the ingest-batch filter is PUSHED to the parquet " +
    "scan — the corpus side is delta-sized while df/n come from the " +
    "store (the 100 TB delta-serving shape, round 14)") {
    val plan = finalPlan("q_tfidf_delta")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\n]*doc_id.*"),
      s"the delta filter must reach the parquet scan:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"expected exactly one (pruned) corpus scan:\n$plan")
    assert(plan.contains("sstable"),
      s"df must load from the persisted store:\n$plan")
  }

  test("q_tfidf_probe: the store is POINT-READ, never scanned — the tf " +
    "aggregation is computed ONCE (cached; it feeds both the probe keys " +
    "and the score join), its corpus scan is pruned, df arrives from " +
    "the index-nested-loop probe relation, and no sstable batch scan " +
    "appears anywhere (round 15)") {
    val plan = finalPlan("q_tfidf_probe")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\n]*doc_id.*"),
      s"the delta filter must reach the parquet scan:\n$plan")
    // the shared tf relation serves both consumers from ONE cached
    // materialization — without it the delta's tokenize + aggregation
    // would execute twice per run (review find)
    assert(plan.contains("InMemoryTableScan") ||
      plan.contains("TableCacheQueryStage"),
      s"the tf aggregation must be served from the cache:\n$plan")
    assert(!plan.toLowerCase.contains("sstable"),
      s"the store must be probed (ExistingRDD), never batch-scanned:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"df must arrive from the probe relation:\n$plan")
  }

  test("q_text_stats_served: ZERO corpus IO — the word-frequency top-k " +
    "is answered from the store's summed cf partials alone (round 14)") {
    val plan = finalPlan("q_text_stats_served")
    assert(!plan.contains("Scan parquet"),
      s"the served top-k must not touch the corpus:\n$plan")
    assert(plan.contains("sstable"),
      s"the counts must come from the store's sstable scan:\n$plan")
  }

  test("q_ann_drift: ZERO corpus IO — assignments read the covering " +
    "index's vec cells and its broadcast centroids alone (round 16)") {
    val plan = finalPlan("q_ann_drift")
    assert(!plan.contains("Scan parquet"),
      s"the drift relation must not touch the embedding table:\n$plan")
    assert(plan.contains("sstable"),
      s"vectors must come from the index's sstable scan:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the k-centroid table must broadcast (k rows x n vectors, " +
        s"never a shuffle):\n$plan")
  }

  test("q_takedown_ledger: the compliance record serves from the ledger " +
    "directory ALONE — one sstable scan, zero corpus IO (round 17)") {
    val plan = finalPlan("q_takedown_ledger")
    assert(!plan.contains("Scan parquet"),
      s"the ledger audit must not rescan the corpus:\n$plan")
    assert(plan.contains("sstable"),
      s"entries must come from the ledger's sstable scan:\n$plan")
  }

  test("q_df_consolidated: ZERO corpus IO — the consolidated store's " +
    "fold-aware sum answers the top-k alone (round 15)") {
    val plan = finalPlan("q_df_consolidated")
    assert(!plan.contains("Scan parquet"),
      s"the consolidated serving read must not touch the corpus:\n$plan")
    assert(plan.contains("sstable"),
      s"the counts must come from the store's sstable scan:\n$plan")
  }

  test("q_df_retracted: ZERO corpus IO — the retracted store's signed " +
    "partials answer the remaining-corpus top-k alone (round 15: the " +
    "takedown serving shape)") {
    val plan = finalPlan("q_df_retracted")
    assert(!plan.contains("Scan parquet"),
      s"the retracted serving read must not touch the corpus:\n$plan")
    assert(plan.contains("sstable"),
      s"the counts must come from the store's sstable scan:\n$plan")
  }

  test("q_tfidf_retracted: delta-sized corpus side (filter pushed), " +
    "statistics from the retracted store — retraction costs the plan " +
    "nothing over the plain delta-serving shape (round 15)") {
    val plan = finalPlan("q_tfidf_retracted")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\n]*doc_id.*"),
      s"the delta filter must reach the parquet scan:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"expected exactly one (pruned) corpus scan:\n$plan")
    assert(plan.contains("sstable"),
      s"df must load from the persisted store:\n$plan")
  }

  test("q_para_dedup_served: one corpus scan — the boilerplate set loads " +
    "from the paragraph-frequency store (no corpus-wide distinct-doc " +
    "digest aggregation) and broadcasts (round 14)") {
    val plan = finalPlan("q_para_dedup_served")
    val parquetScans = "Scan parquet".r.findAllIn(plan).size
    assert(parquetScans == 1,
      s"expected exactly one corpus scan, got $parquetScans:\n$plan")
    assert(plan.contains("sstable"),
      s"boilerplate frequencies must load from the store's sstable scan:\n$plan")
    assert(!plan.contains("count(distinct"),
      s"a corpus-wide distinct-doc aggregation crept into the served plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the boilerplate set must broadcast into the corpus-side join:\n$plan")
  }

  test("q_ledger_scoped / q_takedown_span: served entirely from the stores — " +
    "zero corpus parquet IO (r19 pin for the r18 build-round queries)") {
    for (q <- Seq("q_ledger_scoped", "q_takedown_span")) {
      val plan = finalPlan(q)
      assert(!plan.contains("Scan parquet"),
        s"$q must serve from its sstable store(s), never rescan the corpus:\n$plan")
      assert(plan.contains("BatchScan sstable"),
        s"$q must read the sstable store:\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$q must stay linear:\n$plan")
    }
  }

  test("q_quantiles: windows consume the (lang,tok) count relation, never full rows") {
    val plan = finalPlan("q_quantiles")
    // counting-sort form: the only full-data pass is a map-side-combinable
    // (lang, tok) hash aggregate; the cumulative windows then sort one row
    // per DISTINCT token count. A hot stratum at 100× costs a parallel
    // hash-agg, not one task's full sort (VERDICT r2 wrong-#1).
    assert("HashAggregate\\(keys=\\[lang#\\d+, tok#\\d+L?\\]".r.findAllIn(plan).nonEmpty,
      s"expected the (lang,tok) count aggregate feeding the windows:\n$plan")
    assert(plan.contains("partial_count"), s"no map-side partial count:\n$plan")
    assert(!plan.contains("row_number"),
      s"row-level rank window crept back into q_quantiles:\n$plan")
  }
}
