package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted ANN index (VERDICT r12 Next #1): `CALL build_ann_index`
  * trains the deterministic quantizers ONCE and commits them as rows of
  * an SSTable catalog table; serving loads centroids/codebooks/codes
  * from the table. The decisive parity pin — served results bit-equal
  * the trained-in-query twins — is enforced here at sf0.001 AND by the
  * per-round oracle hash gate (the served queries share their twins'
  * oracle SQL verbatim). */
class AnnIndexSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val warehouse: String =
    Files.createTempDirectory("graft-annix").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.conf.set("spark.sql.catalog.graft_ix",
      classOf[graft.sources.sstable.spark.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_ix.warehouse", warehouse)
    s.sql("CREATE NAMESPACE graft_ix.ann")
    s
  }

  test("build_ann_index(kind => 'ivf') persists k centroids + per-vector " +
    "cells with an epoch-pinning _meta row; the receipt adds up") {
    val r = spark.sql("CALL graft_ix.system.build_ann_index(" +
      s"table => 'ann.coarse', source_dir => '$sfDir', kind => 'ivf', " +
      "k => 4, iters => 2)").collect()(0)
    assert(r.getAs[String]("kind") == "ivf")
    assert(r.getAs[Long]("centroids") == 4L)
    assert(r.getAs[Long]("codebookEntries") == 0L, "ivf kind trains no codebooks")
    val nvec = graft.Tables.embeddings(spark, sfDir).count()
    assert(r.getAs[Long]("vectors") == nvec)
    val dim = r.getAs[Int]("dim")
    assert(dim > 0)

    val idx = s"$warehouse/ann/coarse"
    val cent = AnnIndex.loadCoarseCentroids(spark, idx).collect()
    assert(cent.length == 4, cent.toSeq)
    assert(cent.forall(_.getSeq[Double](1).size == dim))
    val cells = AnnIndex.loadVectorCells(spark, idx)
    assert(cells.count() == nvec)
    assert(cells.select(countDistinct(col("vec_id"))).head().getLong(0) == nvec,
      "exactly one cell assignment per vector")
    val m = AnnIndex.meta(spark, idx)
    assert(m("kind") == "ivf" && m("k") == "4" && m("iters") == "2" &&
      m("source") == sfDir && m("nvec") == nvec.toString &&
      m("dim") == dim.toString, m)
  }

  test("persisted centroids round-trip the trained doubles BIT-FOR-BIT " +
    "(pack_doubles cells, not decimal strings)") {
    val e = SimilarityQueries.embWithNorm(spark, sfDir)
    val (_, cent) = SimilarityQueries.kmediansCells(e, 4, 2)
    val trained = cent.select(col("cell"), col("cv")).collect()
      .map(r => r.getAs[Number]("cell").intValue() -> r.getSeq[Double](r.fieldIndex("cv"))).toMap
    val loaded = AnnIndex.loadCoarseCentroids(spark, s"$warehouse/ann/coarse")
      .select(col("cell"), col("cv")).collect()
      .map(r => r.getAs[Number]("cell").intValue() -> r.getSeq[Double](r.fieldIndex("cv"))).toMap
    assert(trained.keySet == loaded.keySet)
    for ((cell, cv) <- trained) {
      val got = loaded(cell)
      assert(got.size == cv.size)
      cv.zip(got).zipWithIndex.foreach { case ((a, b), i) =>
        assert(java.lang.Double.doubleToLongBits(a) ==
          java.lang.Double.doubleToLongBits(b),
          s"cell $cell coord $i: trained $a, loaded $b — persistence is lossy")
      }
    }
  }

  test("kmediansCells refuses k <= 0 instead of assigning every vector to one phantom cell") {
    val e = SimilarityQueries.embWithNorm(spark, sfDir)
    val err = intercept[IllegalArgumentException](SimilarityQueries.kmediansCells(e, 0, 2))
    assert(err.getMessage.contains("k=0"), err.getMessage)
  }

  test("requireEpoch refuses a stale or mis-parameterized index loudly, " +
    "naming every drifted key") {
    val idx = s"$warehouse/ann/coarse"
    AnnIndex.requireEpoch(spark, idx, Map("kind" -> "ivf", "k" -> "4"))
    val e = intercept[IllegalArgumentException](
      AnnIndex.requireEpoch(spark, idx,
        Map("kind" -> "ivfpq", "k" -> "8", "source" -> sfDir)))
    assert(e.getMessage.contains("kind") && e.getMessage.contains("k:") &&
      e.getMessage.contains("build_ann_index"), e.getMessage)
  }

  test("an empty corpus refuses loudly — an empty index would serve " +
    "nothing (self-review: head() on the dim probe threw a bare " +
    "NoSuchElementException before)") {
    val emptySrc = Files.createTempDirectory("annix-empty").toString
    graft.Tables.embeddings(spark, sfDir).limit(0)
      .write.parquet(s"$emptySrc/embeddings.parquet")
    val e = intercept[Exception](spark.sql(
      "CALL graft_ix.system.build_ann_index(table => 'ann.empty', " +
        s"source_dir => '$emptySrc', kind => 'ivf')"))
    assert(e.getMessage.contains("no vectors"), e.getMessage)
  }

  test("a mixed-dimension corpus refuses BEFORE training (advice r13: " +
    "build derived dim from one arbitrary row and trained silently-wrong " +
    "quantizers; update had the guard, build did not)") {
    val mixedSrc = Files.createTempDirectory("annix-mixed").toString
    val base = graft.Tables.embeddings(spark, sfDir).limit(20)
    base.union(base.limit(2)
        .withColumn("vec_id", col("vec_id") + 1000000)
        .withColumn("embedding", slice(col("embedding"), 1, 3)))
      .write.parquet(s"$mixedSrc/embeddings.parquet")
    val e = intercept[Exception](spark.sql(
      "CALL graft_ix.system.build_ann_index(table => 'ann.mixed', " +
        s"source_dir => '$mixedSrc', kind => 'ivf', k => 2, iters => 1)"))
    assert(e.getMessage.contains("mixed-dimension"), e.getMessage)
    assert(!spark.sql("SHOW TABLES IN graft_ix.ann").collect()
      .exists(_.getString(1) == "mixed"), "a refused build must not land")
  }

  test("unknown kind refuses before any training runs") {
    val e = intercept[Exception](spark.sql(
      "CALL graft_ix.system.build_ann_index(table => 'ann.bad', " +
        s"source_dir => '$sfDir', kind => 'zigzag')"))
    assert(e.getMessage.contains("ivfpq"), e.getMessage)
    assert(!spark.sql("SHOW TABLES IN graft_ix.ann").collect()
      .exists(_.getString(1) == "bad"), "a refused build must not land")
  }

  test("served queries are BIT-IDENTICAL to their trained-in-query twins " +
    "(the hash-gate parity, pinned locally)") {
    val twinK = graft.SparkEntry.queries("q_ann_kmeans")(spark, sfDir).collect().toSeq
    val servedK = graft.SparkEntry.queries("q_ann_kmeans_served")(spark, sfDir).collect().toSeq
    assert(twinK == servedK, "q_ann_kmeans_served diverged from its twin")
    val twinI = graft.SparkEntry.queries("q_ann_ivfpq")(spark, sfDir).collect().toSeq
    val servedI = graft.SparkEntry.queries("q_ann_ivfpq_served")(spark, sfDir).collect().toSeq
    assert(twinI == servedI, "q_ann_ivfpq_served diverged from its twin")
    val twinP = graft.SparkEntry.queries("q_ann_pq")(spark, sfDir).collect().toSeq
    val servedP = graft.SparkEntry.queries("q_ann_pq_served")(spark, sfDir).collect().toSeq
    assert(twinP == servedP, "q_ann_pq_served diverged from its twin")
  }

  test("update_ann_index encodes ONLY the new vectors under the " +
    "PERSISTED quantizers — bit-identical to direct assignment; a " +
    "re-run is a no-op; a different corpus refuses (the sample-train " +
    "then incremental-encode lifecycle)") {
    val nvec = graft.Tables.embeddings(spark, sfDir).count()
    // train on HALF the corpus — the real pattern: quantizers from a
    // sample, everything encoded against them
    val r1 = spark.sql("CALL graft_ix.system.build_ann_index(" +
      s"table => 'ann.inc', source_dir => '$sfDir', kind => 'ivfpq', " +
      "k => 4, iters => 2, m => 4, pq_k => 4, pq_iters => 1, " +
      s"where => 'vec_id < ${nvec / 2}')").collect()(0)
    assert(r1.getAs[Long]("vectors") == nvec / 2)
    val r2 = spark.sql("CALL graft_ix.system.update_ann_index(" +
      s"table => 'ann.inc', source_dir => '$sfDir')").collect()(0)
    assert(r2.getAs[Long]("docsSeen") == nvec)
    assert(r2.getAs[Long]("alreadyIndexed") == nvec / 2, r2.toString)
    assert(r2.getAs[Long]("encoded") == nvec - nvec / 2)
    // the invariant that makes incremental encoding SOUND: every stored
    // assignment equals direct assignment under the persisted quantizers
    val idx = s"$warehouse/ann/inc"
    val e = SimilarityQueries.embWithNorm(spark, sfDir)
    val expectedCells = AnnIndex
      .assignCoarse(e, AnnIndex.loadCoarseCentroids(spark, idx))
      .collect().map(r => r.getLong(0) -> r.getAs[Number]("cell").intValue()).toMap
    val storedCells = AnnIndex.loadVectorCells(spark, idx)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(storedCells == expectedCells,
      "incrementally-encoded cells diverged from direct assignment")
    val expectedCodes = AnnIndex
      .assignPq(e, AnnIndex.loadPqCodebooks(spark, idx), 4)
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getAs[Number](_).intValue())).toMap
    val storedCodes = AnnIndex.loadVectorCodes(spark, idx, 4)
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getAs[Number](_).intValue())).toMap
    assert(storedCodes == expectedCodes,
      "incrementally-encoded codes diverged from direct assignment")
    // idempotent re-run
    val r3 = spark.sql("CALL graft_ix.system.update_ann_index(" +
      s"table => 'ann.inc', source_dir => '$sfDir')").collect()(0)
    assert(r3.getAs[Long]("encoded") == 0L, r3.toString)
    // an index follows ONE corpus
    val e2 = intercept[Exception](spark.sql(
      "CALL graft_ix.system.update_ann_index(table => 'ann.inc', " +
        "source_dir => '/root/testdata/sf0.01')"))
    assert(e2.getMessage.contains("ONE corpus"), e2.getMessage)
    // the index self-folds: repeated ingests must not degrade the probe
    // (asserted on the persisted _table contract — the SQL property
    // surfaces normalize/strip internal write-tuning options)
    val props = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$warehouse/ann/inc/_table")))
    assert(props.contains("autocompact=8"),
      s"the index table must carry write-triggered autocompact: $props")
  }

  test("chaos: free-running loaders during repeated index REBUILDS see " +
    "one epoch's complete structures or a loud refusal — never a " +
    "partial or mixed single load") {
    spark.sql("CALL graft_ix.system.build_ann_index(table => 'ann.chaos', " +
      s"source_dir => '$sfDir', kind => 'ivf', k => 4, iters => 1)")
    val idx = s"$warehouse/ann/chaos"
    val nvec = graft.Tables.embeddings(spark, sfDir).count()
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        // a single load must be internally complete: k centroids of ONE
        // epoch (4 or 6 here) and exactly nvec cell assignments; any
        // exception is the legal loud class (mid-lifecycle refusal,
        // planning re-check, straggler IO on swapped files)
        try {
          val k = AnnIndex.loadCoarseCentroids(spark, idx).count()
          if (k != 4 && k != 6) { bad.add(s"centroids: $k"); () }
          reads.incrementAndGet()
        } catch { case _: Throwable => () }
        try {
          val n = AnnIndex.loadVectorCells(spark, idx).count()
          if (n != nvec) { bad.add(s"cells: $n of $nvec"); () }
        } catch { case _: Throwable => () }
      }
    }, "ann-chaos-reader")
    reader.start()
    try (1 to 3).foreach { i =>
      spark.sql("CALL graft_ix.system.build_ann_index(table => 'ann.chaos', " +
        s"source_dir => '$sfDir', kind => 'ivf', k => ${if (i % 2 == 0) 4 else 6}, " +
        "iters => 1)")
    } finally { stop = true; reader.join(15000) }
    assert(bad.isEmpty, s"partial/mixed loads: ${bad.toArray.mkString("; ")}")
    assert(reads.get() > 0, "the reader must have completed some loads")
  }

  test("AnnSnapshot: the one-read composite load — a REBUILD landing " +
    "between accessor reads cannot mix epochs (closes the documented " +
    "several-loads limit in-process, round 14)") {
    spark.sql("CALL graft_ix.system.build_ann_index(table => 'ann.snap', " +
      s"source_dir => '$sfDir', kind => 'ivf', k => 4, iters => 1)")
    val idx = s"$warehouse/ann/snap"
    val snap = AnnIndex.snapshot(spark, idx)
    try {
      assert(snap.meta("k") == "4")
      // the rebuild lands BETWEEN the snapshot and its accessor reads
      spark.sql("CALL graft_ix.system.build_ann_index(table => 'ann.snap', " +
        s"source_dir => '$sfDir', kind => 'ivf', k => 6, iters => 1)")
      // fresh per-call loaders see the NEW epoch...
      assert(AnnIndex.loadCoarseCentroids(spark, idx).count() == 6)
      // ...while every snapshot accessor keeps serving the OLD epoch,
      // mutually consistent (meta.k == centroid count == 4; the vector
      // assignment set is the old epoch's, complete)
      assert(snap.meta("k") == "4", "snapshot meta drifted to the new epoch")
      val cents = snap.coarseCentroids.collect()
      assert(cents.length == 4, s"snapshot mixed epochs: ${cents.length} centroids")
      assert(cents.map(_.getAs[Number]("cell").intValue()).toSet == Set(0, 1, 2, 3))
      val nvec = graft.Tables.embeddings(spark, sfDir).count()
      assert(snap.vectorCells.count() == nvec)
      assert(snap.vectorCells.agg(max(col("cell"))).head().getInt(0) <= 3,
        "snapshot vector assignments leaked the new epoch's cells")
    } finally snap.release()
  }

  test("update_ann_index runs under the maintenance lease (round 15, " +
    "VERDICT r14 #3): a concurrent updater refuses LOUDLY naming the " +
    "holder — the single-maintainer contract is enforced, not assumed") {
    spark.sql("CALL graft_ix.system.build_ann_index(table => 'ann.ulease', " +
      s"source_dir => '$sfDir', kind => 'ivf', k => 4, iters => 1, " +
      "where => 'vec_id % 2 = 0')")
    val idx = s"$warehouse/ann/ulease"
    val lease = graft.sources.sstable.MaintenanceLease.acquire(
      idx, graft.sources.sstable.LocalStorage, "rogue-second-updater")
    try {
      val e = intercept[Exception](spark.sql(
        "CALL graft_ix.system.update_ann_index(table => 'ann.ulease', " +
          s"source_dir => '$sfDir')"))
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(e).exists(_.contains("rogue-second-updater")), chain(e))
    } finally lease.release()
    val r = spark.sql("CALL graft_ix.system.update_ann_index(table => " +
      s"'ann.ulease', source_dir => '$sfDir')").head()
    assert(r.getAs[Long]("encoded") > 0, r)
  }

  test("AnnSnapshot.release frees the checkpoint blocks NOW, not at GC " +
    "(ADVICE r14: repeated snapshots in a long-lived serving session " +
    "must not accumulate storage); a released snapshot fails LOUDLY " +
    "instead of silently recomputing from the current table") {
    spark.sql("CALL graft_ix.system.build_ann_index(table => 'ann.rel', " +
      s"source_dir => '$sfDir', kind => 'ivf', k => 4, iters => 1)")
    val snap = AnnIndex.snapshot(spark, s"$warehouse/ann/rel")
    val id = snap.checkpointRddId
    assert(spark.sparkContext.getPersistentRDDs.contains(id),
      "an eager snapshot must hold persisted checkpoint blocks")
    assert(snap.coarseCentroids.count() == 4)
    snap.release()
    assert(!spark.sparkContext.getPersistentRDDs.contains(id),
      "release() must unpersist the checkpoint blocks themselves — " +
      "clearing only CacheManager entries leaves them to GC")
    // lineage is cut: use-after-release cannot silently re-read the
    // CURRENT table state (which may be a different epoch) — it throws
    intercept[Exception](snap.coarseCentroids.count())
  }

  test("covering index (round 15): store_vectors => true persists each " +
    "raw vector's bits in its v: row; loadVectorsFor point-reads " +
    "EXACTLY the asked ids bit-equal to the source embeddings, unknown " +
    "ids drop, and a non-covering index refuses the rerank fetch " +
    "loudly") {
    spark.sql("CALL graft_ix.system.build_ann_index(table => 'ann.cov', " +
      s"source_dir => '$sfDir', kind => 'ivf', k => 4, iters => 1, " +
      "store_vectors => true)")
    val idx = s"$warehouse/ann/cov"
    assert(AnnIndex.meta(spark, idx)("store_vectors") == "true")
    val want = SimilarityQueries.embWithNorm(spark, sfDir)
      .filter(col("vec_id") < 5)
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val got = AnnIndex.loadVectorsFor(spark, idx,
        spark.range(5).select(col("id").as("vec_id")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got.keySet == want.keySet && want.forall { case (k, v) =>
      got(k) == v }, "point-read vectors must be bit-equal to the source")
    // ids the index never saw produce no row
    val missing = AnnIndex.loadVectorsFor(spark, idx,
      spark.range(1).select((col("id") + 999999999L).as("vec_id")))
    assert(missing.count() == 0)
    // a non-covering index refuses the fetch with the rebuild hint
    spark.sql("CALL graft_ix.system.build_ann_index(table => 'ann.nocov', " +
      s"source_dir => '$sfDir', kind => 'ivf', k => 4, iters => 1)")
    val e = intercept[Exception](AnnIndex.loadVectorsFor(spark,
      s"$warehouse/ann/nocov", spark.range(1).select(col("id").as("vec_id"))))
    assert(e.getMessage.contains("store_vectors => true"), e.getMessage)
  }

  test("the covering property follows updates: update_ann_index over a " +
    "store_vectors index persists the NOVEL vectors' bits too, so a " +
    "rerank fetch spanning build-time and ingested vectors serves all " +
    "of them") {
    spark.sql("CALL graft_ix.system.build_ann_index(table => 'ann.covu', " +
      s"source_dir => '$sfDir', kind => 'ivfpq', k => 4, iters => 1, " +
      "m => 4, pq_k => 4, pq_iters => 1, where => 'vec_id % 2 = 0', " +
      "store_vectors => true)")
    val r = spark.sql("CALL graft_ix.system.update_ann_index(" +
      s"table => 'ann.covu', source_dir => '$sfDir')").head()
    assert(r.getAs[Long]("encoded") > 0, r)
    val idx = s"$warehouse/ann/covu"
    val all = SimilarityQueries.embWithNorm(spark, sfDir)
    val got = AnnIndex.loadVectorsFor(spark, idx,
      all.select(col("vec_id"))).count()
    assert(got == all.count(),
      "every vector (built + ingested) must be point-readable")
  }

  test("cover_ann_index (round 16): a non-covering index upgrades to " +
    "covering in one pass — no retraining — and serves the rerank " +
    "fetch BIT-IDENTICAL to an index built covering; a re-run no-ops; " +
    "a drifted corpus refuses naming the ids; a missing corpus row " +
    "refuses") {
    // twin builds over the same slice: one covering at build, one not
    spark.sql("CALL graft_ix.system.build_ann_index(table => 'ann.upg', " +
      s"source_dir => '$sfDir', kind => 'ivfpq', k => 4, iters => 1, " +
      "m => 4, pq_k => 4, pq_iters => 1)")
    spark.sql("CALL graft_ix.system.build_ann_index(table => 'ann.upgt', " +
      s"source_dir => '$sfDir', kind => 'ivfpq', k => 4, iters => 1, " +
      "m => 4, pq_k => 4, pq_iters => 1, store_vectors => true)")
    val idx = s"$warehouse/ann/upg"
    val twin = s"$warehouse/ann/upgt"
    val r = spark.sql("CALL graft_ix.system.cover_ann_index(" +
      s"table => 'ann.upg', source_dir => '$sfDir')").head()
    val nvec = graft.Tables.embeddings(spark, sfDir).count()
    assert(r.getAs[Long]("covered") == nvec &&
      !r.getAs[Boolean]("alreadyCovering"), r.toString)
    assert(AnnIndex.meta(spark, idx)("store_vectors") == "true")
    // the rerank fetch serves bit-identical to the built-covering twin
    val ids = spark.range(50).select(col("id").as("vec_id"))
    def fetch(d: String) = AnnIndex.loadVectorsFor(spark, d, ids)
      .orderBy("vec_id").collect().map(_.toString).toSeq
    assert(fetch(idx).nonEmpty && fetch(idx) == fetch(twin),
      "upgraded covering fetch != built-covering fetch")
    // quantizers untouched: the upgrade trained nothing
    assert(AnnIndex.loadCoarseCentroids(spark, idx).collect().toSeq
      .map(_.toString).sorted ==
      AnnIndex.loadCoarseCentroids(spark, twin).collect().toSeq
        .map(_.toString).sorted)
    // idempotent
    val r2 = spark.sql("CALL graft_ix.system.cover_ann_index(" +
      s"table => 'ann.upg', source_dir => '$sfDir')").head()
    assert(r2.getAs[Boolean]("alreadyCovering"), r2.toString)
    // drift refusal: an index whose corpus rows re-encode differently
    val drifted = Files.createTempDirectory("ann-drift").toString
    val emb = graft.Tables.embeddings(spark, sfDir)
    emb.select(col("vec_id"),
        when(col("vec_id") === 3, reverse(col("embedding")))
          .otherwise(col("embedding")).as("embedding"), col("label"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$drifted/embeddings.parquet")
    spark.sql("CALL graft_ix.system.build_ann_index(table => 'ann.upgd', " +
      s"source_dir => '$drifted', kind => 'ivfpq', k => 4, iters => 1, " +
      "m => 4, pq_k => 4, pq_iters => 1)")
    // the corpus then mutates back to the original vectors: id 3 drifts
    emb.coalesce(1).write.mode("overwrite")
      .parquet(s"$drifted/embeddings.parquet")
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    val e = intercept[Exception](spark.sql(
      "CALL graft_ix.system.cover_ann_index(table => 'ann.upgd', " +
        s"source_dir => '$drifted')"))
    assert(chain(e).exists(m => m.contains("drifted") && m.contains("3")),
      chain(e))
    assert(!AnnIndex.meta(spark, s"$warehouse/ann/upgd")
      .get("store_vectors").contains("true"),
      "a refused upgrade must not flip the flag")
    // missing-row refusal: a corpus that lost an indexed id
    val shrunk = Files.createTempDirectory("ann-shrunk").toString
    emb.filter(col("vec_id") =!= 7).coalesce(1).write.mode("overwrite")
      .parquet(s"$shrunk/embeddings.parquet")
    spark.sql("CALL graft_ix.system.build_ann_index(table => 'ann.upgs', " +
      s"source_dir => '$shrunk', kind => 'ivf', k => 4, iters => 1)")
    // forge the pin drift scenario: index over full corpus, corpus loses a row
    val e2 = intercept[Exception] {
      // swap the corpus under the pin: write the full set, build, then shrink
      emb.coalesce(1).write.mode("overwrite")
        .parquet(s"$shrunk/embeddings.parquet")
      spark.sql("DROP TABLE graft_ix.ann.upgs")
      spark.sql("CALL graft_ix.system.build_ann_index(table => 'ann.upgs2', " +
        s"source_dir => '$shrunk', kind => 'ivf', k => 4, iters => 1)")
      emb.filter(col("vec_id") =!= 7).coalesce(1).write.mode("overwrite")
        .parquet(s"$shrunk/embeddings.parquet")
      spark.sql("CALL graft_ix.system.cover_ann_index(table => 'ann.upgs2', " +
        s"source_dir => '$shrunk')")
    }
    assert(chain(e2).exists(m => m.contains("no longer exist") &&
      m.contains("7")), chain(e2))
  }

  test("ann_drift (round 16): the quantizer-staleness signal — flat " +
    "(ratio ~1.0) on same-distribution ingest, RISES on a shifted " +
    "slice; zero corpus IO (vec cells carry the vectors and their " +
    "epochs); a non-covering index refuses with the cover hint") {
    // a corpus dir this test owns: build over the even half, ingest the
    // odd half (same distribution), then ingest a SHIFTED synthetic
    // slice (reversed embeddings of existing rows under fresh ids)
    val dir = Files.createTempDirectory("ann-driftstat").toString
    val emb = graft.Tables.embeddings(spark, sfDir)
    emb.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    spark.sql("CALL graft_ix.system.build_ann_index(table => 'ann.drift', " +
      s"source_dir => '$dir', kind => 'ivf', k => 4, iters => 2, " +
      "where => 'vec_id % 2 = 0', store_vectors => true)")
    def drift() = spark.sql(
      "CALL graft_ix.system.ann_drift(table => 'ann.drift')").head()
    val d0 = drift()
    assert(d0.getAs[Long]("nPost") == 0L &&
      d0.getAs[Long]("driftRatio_e4") == 10000L,
      s"nothing ingested since build -> nothing to drift: $d0")
    // same-distribution ingest: the odd half
    spark.sql("CALL graft_ix.system.update_ann_index(table => " +
      s"'ann.drift', source_dir => '$dir')")
    val dSame = drift()
    assert(dSame.getAs[Long]("nPost") > 0L, dSame.toString)
    val sameRatio = dSame.getAs[Long]("driftRatio_e4")
    // a SHIFTED slice: NEGATED embeddings under fresh ids, appended to
    // the same (pinned) corpus dir — negation is the worst case for
    // cosine assignment (each vector points away from its own cluster)
    val nmax = emb.agg(max(col("vec_id"))).head().getLong(0)
    emb.select(col("vec_id"), col("embedding"), col("label"))
      .unionAll(emb.select((col("vec_id") + nmax + 1).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"), col("label")))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    spark.sql("CALL graft_ix.system.update_ann_index(table => " +
      s"'ann.drift', source_dir => '$dir')")
    val dShift = drift()
    val shiftRatio = dShift.getAs[Long]("driftRatio_e4")
    assert(shiftRatio > sameRatio,
      s"a shifted slice must raise the drift ratio: same=$sameRatio " +
        s"shifted=$shiftRatio")
    assert(dShift.getAs[Long]("postMeanSim_e4") <
      dShift.getAs[Long]("buildMeanSim_e4"),
      s"shifted vectors must assign worse than the training set: $dShift")
    // a non-covering index refuses, pointing at the upgrade CALL
    // (built over the pristine corpus — the negated slice above makes
    // $dir symmetric, which legitimately collapses a median centroid)
    spark.sql("CALL graft_ix.system.build_ann_index(table => 'ann.driftn', " +
      s"source_dir => '$sfDir', kind => 'ivf', k => 4, iters => 1)")
    val e = intercept[Exception](spark.sql(
      "CALL graft_ix.system.ann_drift(table => 'ann.driftn')"))
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("cover_ann_index")), chain(e))
    // an index whose LIVE vector set was fully retracted (the full-
    // takedown end state) answers with a clean healthy receipt, not an
    // NPE on the null min(ts) (review find)
    spark.sql("CALL graft_ix.system.retract_ann_vectors(table => " +
      "'ann.drift', where => 'true')")
    val dEmpty = drift()
    assert(dEmpty.getAs[Long]("nBuild") == 0L &&
      dEmpty.getAs[Long]("nPost") == 0L &&
      dEmpty.getAs[Long]("driftRatio_e4") == 10000L,
      s"an emptied index must report a clean receipt: $dEmpty")
  }

  test("ann_drift corpus-IO fallback (round 17, VERDICT r16 #2): a " +
    "NON-covering index measures the same drift statistic (±e4 " +
    "rounding) as its covered twin via source_dir; the pin mismatch " +
    "and the corpus-moved-on cases refuse; a covering index ignores " +
    "source_dir") {
    val dir = Files.createTempDirectory("ann-driftfb").toString
    graft.Tables.embeddings(spark, sfDir).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // twin indexes: same corpus, same training slice, same params —
    // one covering, one not
    Seq(("ann.dfbc", "true"), ("ann.dfbn", "false")).foreach {
      case (t, sv) => spark.sql(
        s"CALL graft_ix.system.build_ann_index(table => '$t', " +
          s"source_dir => '$dir', kind => 'ivf', k => 4, iters => 2, " +
          s"where => 'vec_id % 2 = 0', store_vectors => $sv)")
    }
    // ingest the odd half into both (post-build epochs to measure)
    Seq("ann.dfbc", "ann.dfbn").foreach(t => spark.sql(
      s"CALL graft_ix.system.update_ann_index(table => '$t', " +
        s"source_dir => '$dir')"))
    def drift(t: String, src: Option[String]) = spark.sql(
      s"CALL graft_ix.system.ann_drift(table => '$t'" +
        src.map(d => s", source_dir => '$d'").getOrElse("") + ")").head()
    val dc = drift("ann.dfbc", None)
    val dn = drift("ann.dfbn", Some(dir))
    Seq("nBuild", "nPost").foreach(c =>
      assert(dc.getAs[Long](c) == dn.getAs[Long](c), s"$c: $dc vs $dn"))
    Seq("buildMeanSim_e4", "postMeanSim_e4", "buildP05Sim_e4",
        "postP05Sim_e4", "driftRatio_e4").foreach(c =>
      assert(math.abs(dc.getAs[Long](c) - dn.getAs[Long](c)) <= 1,
        s"$c diverged beyond e4 rounding: $dc vs $dn"))
    // a covering index ignores source_dir (still zero corpus IO)
    assert(drift("ann.dfbc", Some(dir)).getAs[Long]("driftRatio_e4") ==
      dc.getAs[Long]("driftRatio_e4"))
    // pin mismatch refuses (a different corpus measures a different
    // distribution)
    val eMis = intercept[Exception](drift("ann.dfbn", Some(sfDir)))
    assert(chainOf(eMis).exists(_.contains("refusing a drift")), chainOf(eMis))
    // corpus moved on (a live index row no longer in the corpus):
    // rewrite the corpus without some ids -> the fallback refuses
    // naming the uncovered count rather than silently biasing the means
    graft.Tables.embeddings(spark, sfDir).filter("vec_id >= 10")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val eGone = intercept[Exception](drift("ann.dfbn", Some(dir)))
    assert(chainOf(eGone).exists(_.contains("no longer holds")),
      chainOf(eGone))
    assert(chainOf(eGone).exists(_.contains("tolerate_missing")),
      chainOf(eGone))
    // tolerate_missing (round 18, VERDICT r17 #5): measurement during
    // live corpus churn — the statistic over the COVERED subset, the
    // dropped count honest in the receipt. Must equal (±e4 rounding) a
    // twin whose missing vectors were PROPERLY retracted first.
    val goneIds = graft.Tables.embeddings(spark, sfDir)
      .filter("vec_id < 10").count()
    val dTol = spark.sql(
      s"CALL graft_ix.system.ann_drift(table => 'ann.dfbn', " +
        s"source_dir => '$dir', tolerate_missing => true)").head()
    assert(dTol.getAs[Long]("missing") == goneIds, dTol.toString)
    spark.sql("CALL graft_ix.system.retract_ann_vectors(table => " +
      "'ann.dfbc', where => 'vec_id < 10')")
    val dRetr = drift("ann.dfbc", None)
    assert(dRetr.getAs[Long]("missing") == 0L)
    Seq("nBuild", "nPost").foreach(c =>
      assert(dTol.getAs[Long](c) == dRetr.getAs[Long](c),
        s"$c: tolerated=$dTol retracted-twin=$dRetr"))
    Seq("buildMeanSim_e4", "postMeanSim_e4", "buildP05Sim_e4",
        "postP05Sim_e4", "driftRatio_e4").foreach(c =>
      assert(math.abs(dTol.getAs[Long](c) - dRetr.getAs[Long](c)) <= 1,
        s"$c diverged beyond e4 rounding: tolerated=$dTol " +
          s"retracted-twin=$dRetr"))
  }

  private def chainOf(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ chainOf(t.getCause)

  test("drift health ledger (round 17, VERDICT r16 #3): every committed " +
    "ingest epoch of a COVERING index leaves one bounded _health " +
    "sample; the ratio RISES in the ledger on a shifted slice; " +
    "drift_warn pins a threshold that makes the ingest receipt carry a " +
    "LOUD warning; unset = samples only; non-covering = no samples") {
    val dir = Files.createTempDirectory("ann-health").toString
    val emb = graft.Tables.embeddings(spark, sfDir)
    emb.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val idxDir = s"$warehouse/ann/hlt"
    spark.sql("CALL graft_ix.system.build_ann_index(table => 'ann.hlt', " +
      s"source_dir => '$dir', kind => 'ivf', k => 4, iters => 2, " +
      "where => 'vec_id % 2 = 0', store_vectors => true)")
    def update() = spark.sql("CALL graft_ix.system.update_ann_index(" +
      s"table => 'ann.hlt', source_dir => '$dir')").head()
    // healthy ingest (same distribution): one sample, empty warning
    val u1 = update()
    assert(u1.getAs[String]("health") == "", u1.toString)
    val s1 = AnnIndex.healthSamples(spark, idxDir)
    assert(s1.size == 1, s"one committed epoch -> one sample: $s1")
    val r1 = s1.head._2
    // shifted slice (negated embeddings under fresh ids): the ledger's
    // next sample must read WORSE — the silent-recall-decay signal,
    // now persistent instead of on-demand
    val nmax = emb.agg(max(col("vec_id"))).head().getLong(0)
    emb.unionAll(emb.select((col("vec_id") + nmax + 1).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"),
        col("label")))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val u2 = update()
    // property unset: samples accumulate, receipts never warn
    assert(u2.getAs[String]("health") == "", u2.toString)
    val s2 = AnnIndex.healthSamples(spark, idxDir)
    assert(s2.size == 2 && s2.map(_._1) == s2.map(_._1).sorted, s2.toString)
    val r2 = s2.last._2
    assert(r2 > r1, s"the shifted slice must worsen the ledger: $r1 -> $r2")
    // a no-novel-rows update commits no epoch and samples nothing
    assert(update().getAs[Long]("encoded") == 0L)
    assert(AnnIndex.healthSamples(spark, idxDir).size == 2)

    // drift_warn pinned BETWEEN the two measured ratios: the healthy
    // ingest stays quiet, the shifted one trips the receipt warning
    val warnAt = (r1 + r2) / 2
    emb.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    spark.sql("CALL graft_ix.system.build_ann_index(table => 'ann.hltw', " +
      s"source_dir => '$dir', kind => 'ivf', k => 4, iters => 2, " +
      s"where => 'vec_id % 2 = 0', store_vectors => true, " +
      s"drift_warn => $warnAt)")
    def updateW() = spark.sql("CALL graft_ix.system.update_ann_index(" +
      s"table => 'ann.hltw', source_dir => '$dir')").head()
    assert(updateW().getAs[String]("health") == "",
      "a same-distribution ingest must not warn")
    emb.unionAll(emb.select((col("vec_id") + nmax + 1).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"),
        col("label")))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val w = updateW().getAs[String]("health")
    assert(w.contains("DRIFT WARNING") && w.contains("build_ann_index"),
      s"the shifted ingest must trip drift_warn=$warnAt: '$w'")

    // non-covering: no samples, no warning — no behavior change
    emb.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    spark.sql("CALL graft_ix.system.build_ann_index(table => 'ann.hltn', " +
      s"source_dir => '$dir', kind => 'ivf', k => 4, iters => 1, " +
      "where => 'vec_id % 2 = 0')")
    val un = spark.sql("CALL graft_ix.system.update_ann_index(" +
      s"table => 'ann.hltn', source_dir => '$dir')").head()
    assert(un.getAs[String]("health") == "" &&
      AnnIndex.healthSamples(spark, s"$warehouse/ann/hltn").isEmpty)

    // the series is BOUNDED: seed a 70-sample _health row on a fresh
    // covering index (epoch-stamped like real samples), then ONE more
    // sample evicts down to the HealthSamples cap and survives itself
    spark.sql("CALL graft_ix.system.build_ann_index(table => 'ann.hltb', " +
      s"source_dir => '$dir', kind => 'ivf', k => 4, iters => 1, " +
      "where => 'vec_id % 2 = 0', store_vectors => true)")
    val idxDirB = s"$warehouse/ann/hltb"
    val sv = "graft_ann_health_seed"
    spark.range(1).select(lit("_health").cast("binary").as("key"),
        array((10 until 80).map { e =>
          struct(lit(f"h:$e%06d").cast("binary").as("name"),
            lit("NORMAL").as("state"),
            lit("10000,1").cast("binary").as("value"),
            lit(e.toLong).as("timestamp"),
            lit(0L).as("ttlSecs"), lit(0L).as("expiresMillis"))
        }: _*).as("columns"),
        lit(null).cast("struct<localDeletionTime: int, " +
          "markedForDeleteAt: bigint>").as("rowTombstone"))
      .createOrReplaceTempView(sv)
    spark.sql(s"INSERT INTO graft_ix.ann.hltb SELECT * FROM $sv")
    assert(AnnIndex.healthSamples(spark, idxDirB).size == 70)
    AnnIndex.appendHealthSample(spark, "bound-test", idxDirB,
      graft.sources.sstable.LocalStorage, 100,
      AnnIndex.meta(spark, idxDirB),
      SimilarityQueries.embWithNorm(spark, dir)
        .select(col("vec_id"), col("v"), col("nrm")).limit(5), { hr =>
        val hv = "graft_ann_health_one"
        hr.createOrReplaceTempView(hv)
        spark.sql(s"INSERT INTO graft_ix.ann.hltb SELECT * FROM $hv")
      })
    val bounded = AnnIndex.healthSamples(spark, idxDirB)
    assert(bounded.size == AnnIndex.HealthSamples,
      s"the ledger must stay bounded at ${AnnIndex.HealthSamples}: " +
        s"${bounded.size}")
    assert(bounded.map(_._1).max == 100,
      "the newest sample must survive the eviction")
  }

  test("q_ann_rerank: exact re-scoring of the ADC shortlist from the " +
    "covering index recovers recall — per-query hits are >= the " +
    "un-reranked served IVF+PQ's, and total recall strictly improves " +
    "on this corpus") {
    val ivfpq = graft.SparkEntry.queries("q_ann_ivfpq_served")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rer = graft.SparkEntry.queries("q_ann_rerank")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rer.keySet == ivfpq.keySet)
    // NOT guaranteed per-query in general ANN, but holds for this
    // deterministic fixture: rerank re-orders a superset of the ADC
    // top-k by TRUE similarity, so any true neighbor the codes ranked
    // into the shortlist is recovered
    assert(rer.values.sum >= ivfpq.values.sum,
      s"rerank lost recall: $rer vs $ivfpq")
  }

  test("vector retraction (round 15): retract_ann_vectors removes " +
    "exactly the chosen vectors from EVERY serving surface (cells, " +
    "codes, covering point reads, the snapshot) with no retrain and no " +
    "embedding read; a re-run matches nothing; update_ann_index RE-ADDS " +
    "them above the mark; membership cycles and compaction folds the " +
    "history to the newest state") {
    spark.sql("CALL graft_ix.system.build_ann_index(table => 'ann.retr', " +
      s"source_dir => '$sfDir', kind => 'ivfpq', k => 4, iters => 1, " +
      "m => 4, pq_k => 4, pq_iters => 1, store_vectors => true)")
    val idx = s"$warehouse/ann/retr"
    val allIds = AnnIndex.indexedVecIds(spark, idx)
      .collect().map(_.getLong(0)).toSet
    def retract(where: String) = spark.sql(
      "CALL graft_ix.system.retract_ann_vectors(table => 'ann.retr', " +
        s"where => '$where')").head()
    val r1 = retract("vec_id % 3 = 1")
    assert(r1.getAs[Long]("retracted") == allIds.count(_ % 3 == 1), r1)
    val want = allIds.filterNot(_ % 3 == 1)
    // every serving surface drops them identically
    assert(AnnIndex.loadVectorCells(spark, idx)
      .collect().map(_.getLong(0)).toSet == want, "cells leaked")
    assert(AnnIndex.loadVectorCodes(spark, idx, 4)
      .collect().map(_.getLong(0)).toSet == want, "codes leaked")
    assert(AnnIndex.loadVectorsFor(spark, idx,
        spark.createDataset(allIds.toSeq)(
          org.apache.spark.sql.Encoders.scalaLong).toDF("vec_id"))
      .collect().map(_.getLong(0)).toSet == want, "point reads leaked")
    val snap = AnnIndex.snapshot(spark, idx)
    try assert(snap.vectorCells.collect().map(_.getLong(0)).toSet == want,
      "the snapshot leaked retracted vectors")
    finally snap.release()
    // idempotent; then re-addition via the ordinary incremental ingest
    assert(retract("vec_id % 3 = 1").getAs[Long]("retracted") == 0L)
    val re = spark.sql("CALL graft_ix.system.update_ann_index(" +
      s"table => 'ann.retr', source_dir => '$sfDir')").head()
    assert(re.getAs[Long]("encoded") == r1.getAs[Long]("retracted"), re)
    assert(AnnIndex.loadVectorCells(spark, idx)
      .collect().map(_.getLong(0)).toSet == allIds, "re-add incomplete")
    // second cycle + physical fold reconcile to the newest state
    val r2 = retract("vec_id % 3 = 1")
    assert(r2.getAs[Long]("retracted") == r1.getAs[Long]("retracted"), r2)
    SSTableOps.compactInPlace(spark, idx, minThreshold = 2)
    assert(AnnIndex.loadVectorCells(spark, idx)
      .collect().map(_.getLong(0)).toSet == want,
      "post-compaction cycled membership diverged")
  }

  test("storm: retract_ann_vectors racing update + DROP+undrop stays " +
    "benign — every failure is a declared loud class, and the probe's " +
    "membership view (delete-aware raw) agrees EXACTLY with the " +
    "serving view (delete-aware loader) on the end state") {
    spark.sql("CREATE NAMESPACE graft_ix.rstorm")
    spark.sql("CALL graft_ix.system.build_ann_index(table => " +
      s"'rstorm.ix', source_dir => '$sfDir', kind => 'ivf', k => 4, " +
      "iters => 1)")
    val anomalies = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    def legal(msgs: String): Boolean =
      msgs.contains("rerun") || msgs.contains("mid-lifecycle") ||
        msgs.contains("vanished") || msgs.contains("FileNotFound") ||
        msgs.contains("does not exist") || msgs.contains("No such file") ||
        msgs.contains("TABLE_OR_VIEW_NOT_FOUND") || msgs.contains("not found") ||
        msgs.contains("lease") || msgs.contains("exists") ||
        msgs.contains("no data and no _table pointer") ||
        msgs.contains("residue") || msgs.contains("dropped") ||
        msgs.contains("restoring") || msgs.contains("nothing to retract") ||
        msgs.contains("_meta")
    val maintainer = new Thread(() => {
      var i = 0
      while (!stop.get()) {
        i += 1
        try {
          if (i % 2 == 0)
            spark.sql("CALL graft_ix.system.retract_ann_vectors(table => " +
              s"'rstorm.ix', where => 'vec_id % 5 = ${i % 5}')")
          else
            spark.sql("CALL graft_ix.system.update_ann_index(table => " +
              s"'rstorm.ix', source_dir => '$sfDir')")
        } catch {
          case e: Throwable =>
            val msgs = Iterator.iterate[Throwable](e)(_.getCause)
              .takeWhile(_ != null)
              .flatMap(t => Seq(t.getClass.getSimpleName) ++ Option(t.getMessage))
              .mkString(" | ")
            if (!legal(msgs))
              anomalies.add(s"maintainer unexpected ${e.getClass.getSimpleName}: $msgs")
        }
      }
    }, "ann-rstorm-maintainer")
    maintainer.start()
    try {
      for (_ <- 1 to 6) {
        try {
          spark.sql("DROP TABLE graft_ix.rstorm.ix")
          spark.sql("CALL graft_ix.system.undrop_table(table => 'rstorm.ix')")
        } catch {
          case e: Throwable =>
            val msgs = Iterator.iterate[Throwable](e)(_.getCause)
              .takeWhile(_ != null)
              .flatMap(t => Seq(t.getClass.getSimpleName) ++ Option(t.getMessage))
              .mkString(" | ")
            if (!legal(msgs))
              anomalies.add(s"ddl unexpected ${e.getClass.getSimpleName}: $msgs")
        }
        Thread.sleep(50)
      }
    } finally {
      stop.set(true)
      maintainer.join(60000)
    }
    assert(anomalies.isEmpty, anomalies.toArray.mkString("\n"))
    val table = spark.sql("SHOW TABLES IN graft_ix.rstorm").collect()
      .exists(_.getString(1) == "ix")
    if (table) {
      val idx = s"$warehouse/rstorm/ix"
      val probe = AnnIndex.indexedVecIds(spark, idx)
        .collect().map(_.getLong(0)).toSet
      val serving = AnnIndex.loadVectorCells(spark, idx)
        .collect().map(_.getLong(0)).toSet
      assert(probe == serving,
        s"membership views forked: probe-serving=${(probe -- serving).take(5)} " +
          s"serving-probe=${(serving -- probe).take(5)}")
    }
  }

  test("rebuilding the index is one atomic REPLACE: the new epoch swaps " +
    "in wholesale (no stale mix), and the receipt reflects new params") {
    val r = spark.sql("CALL graft_ix.system.build_ann_index(" +
      s"table => 'ann.coarse', source_dir => '$sfDir', kind => 'ivf', " +
      "k => 6, iters => 1)").collect()(0)
    assert(r.getAs[Long]("centroids") == 6L)
    val idx = s"$warehouse/ann/coarse"
    assert(AnnIndex.loadCoarseCentroids(spark, idx).count() == 6)
    assert(AnnIndex.meta(spark, idx)("k") == "6")
  }
}
