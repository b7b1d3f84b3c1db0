package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Params._

/** Scratch perf probe for the shingle-pipeline variants, plus a hot-key
  * skew probe for the compactRows/compactRowsSalted pair (dev tool).
  * `runMain graft.PerfProbe skew` runs the skew comparison. */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(name: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
    }

    if (args.headOption.contains("kmeans")) {
      kmeansProbe(spark, args.lift(1).getOrElse("/root/testdata/sf0.1"))
      spark.stop(); return
    }
    if (args.headOption.contains("cc")) {
      ccProbe(spark, args.lift(1).getOrElse("/root/testdata/sf0.1"))
      spark.stop(); return
    }
    if (args.headOption.contains("loopplans")) {
      loopPlans(spark, args.lift(1).getOrElse("/root/testdata/sf0.001"),
        args.lift(2).getOrElse("plans/r19"))
      spark.stop(); return
    }
    if (args.headOption.contains("skew")) { skewProbe(spark, time); spark.stop(); return }
    if (args.headOption.contains("lookup")) { lookupProbe(spark, time); spark.stop(); return }
    if (args.headOption.contains("probejoin")) { probeJoinProbe(spark, time); spark.stop(); return }
    if (args.headOption.contains("scale")) { scaleProbe(spark, time); spark.stop(); return }
    if (args.headOption.contains("sf1build")) {
      sf1Build(spark, args.lift(1).getOrElse("/root/testdata/sf0.1"),
        args.lift(2).getOrElse("/tmp/graft-sf1"))
      spark.stop(); return
    }
    if (args.headOption.contains("topn")) { topnProbe(spark, time); spark.stop(); return }
    if (args.headOption.contains("slice")) { sliceProbe(spark, time); spark.stop(); return }
    if (args.headOption.contains("columnar")) { columnarProbe(); spark.stop(); return }
    if (args.headOption.contains("deletes")) { deletesProbe(spark); spark.stop(); return }
    if (args.headOption.contains("rowlevel")) { rowLevelProbe(spark); spark.stop(); return }
    if (args.headOption.contains("bucketfold")) { bucketFoldProbe(spark); spark.stop(); return }
    if (args.headOption.contains("pins")) { pinsProbe(spark); spark.stop(); return }
    if (args.headOption.contains("maintenance")) { maintenanceProbe(spark); spark.stop(); return }
    if (args.headOption.contains("lifecycle")) { lifecycleProbe(spark); spark.stop(); return }
    if (args.headOption.contains("lifecyclescale")) {
      lifecycleScaleProbe(spark); spark.stop(); return
    }
    if (args.headOption.contains("retractscale")) {
      retractScaleProbe(spark); spark.stop(); return
    }
    // the 100x ledger-churn soak alone (it runs for several minutes —
    // the full retractscale run times out ordinary harness windows)
    if (args.headOption.contains("ledgerchurn")) {
      retractScaleProbe(spark, churnOnly = true); spark.stop(); return
    }

    val docs = Tables.documents(spark, sfDir)

    time("A_tokens_only") {
      docs.select(col("doc_id"), toks(col("text")).as("t"))
    }
    time("B_exact_fp_only") {
      docs.select(col("doc_id"), md5(concat_ws(" ", toks(col("text")))).as("fp"))
    }
    time("C_shingles_hof") {
      docs.select(col("doc_id"), shingles(toks(col("text"))).as("sh"))
    }
    time("C2_shingles_precomputed_t") {
      docs.select(col("doc_id"), toks(col("text")).as("t"))
        .select(col("doc_id"), shingles(col("t")).as("sh"))
    }
    time("D_min_md5_shingle_hof") {
      docs.select(col("doc_id"),
        array_min(transform(shingles(toks(col("text"))), sh => md5(sh))).as("fp"))
    }
    time("D2_min_md5_two_steps") {
      docs.select(col("doc_id"), shingles(toks(col("text"))).as("sh"))
        .select(col("doc_id"), array_min(transform(col("sh"), sh => md5(sh))).as("fp"))
    }
    time("E_explode_groupby") {
      docs.select(col("doc_id"), explode(shingles(toks(col("text")))).as("sh"))
        .groupBy("doc_id").agg(min(md5(col("sh"))).as("fp"))
    }
    spark.stop()
  }

  /** Lloyd-loop shape probe (r19, adjudicating the r18 "lazy loop" claim):
    * times the k-medians training end-to-end under three checkpoint
    * disciplines — `lazy` (final-only, the r18 shape), `centEvery`
    * (checkpoint the tiny k-row centroids every iteration: shallow plans,
    * negligible materialization), `assignEvery` (checkpoint the full
    * assignment every iteration: the r17 shape) — plus the driver-side
    * plan cost of the lazy chain in isolation. 3 reps each, warm JVM. */
  private def kmeansProbe(spark: SparkSession, sfDir: String): Unit = {
    import graft.operators.Params
    import graft.functions.VectorExpressions
    val k = Params.KMedK
    val iters = Params.KMedIters
    def emb: DataFrame = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(VectorExpressions.vector_dot(col("v"), col("v"))))
    def medCent(assigned: DataFrame): DataFrame =
      assigned.select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos")).agg(median(col("x")).as("av"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("av")))).as("pa"))
        .select(col("cell"), transform(col("pa"), p => p.getField("av")).as("cv"))
        .withColumn("cn", sqrt(VectorExpressions.vector_dot(col("cv"), col("cv"))))
    def loop(mode: String): Unit = {
      val t0 = System.nanoTime()
      val base = emb.repartition(col("vec_id")).persist()
      var assigned = base.select(col("vec_id"),
        pmod(col("vec_id"), lit(k)).as("cell"), col("v"), col("nrm"))
      var lastCent: DataFrame = null
      for (i <- 1 to iters) {
        val cent0 = medCent(assigned)
        val cent = if (i == iters || mode == "centEvery") cent0.localCheckpoint()
          else cent0
        if (mode == "centEvery" || i == iters)
          println(f"    [$mode] cent $i done at ${(System.nanoTime() - t0) / 1e9}%6.2fs")
        lastCent = cent
        val sim = VectorExpressions.vector_dot(col("v"), col("cv")) /
          (col("nrm") * col("cn"))
        assigned = base.crossJoin(broadcast(cent))
          .select(col("vec_id"), col("v"), col("nrm"), col("cell"), sim.as("csim"))
          .groupBy("vec_id")
          .agg(max_by(struct(col("cell"), col("v"), col("nrm")),
            struct(col("csim"), -col("cell"))).as("_best"))
          .select(col("vec_id"), col("_best.cell").as("cell"),
            col("_best.v").as("v"), col("_best.nrm").as("nrm"))
        if (mode == "assignEvery") {
          assigned = assigned.localCheckpoint()
          println(f"    [$mode] assign $i done at ${(System.nanoTime() - t0) / 1e9}%6.2fs")
        }
      }
      assigned = assigned.localCheckpoint()
      base.unpersist()
      println(f"  [$mode] total ${(System.nanoTime() - t0) / 1e9}%6.2fs")
    }
    // driver planning cost of the lazy chain alone: build it and force
    // analysis + optimization + physical planning without executing
    def planOnly(): Unit = {
      val t0 = System.nanoTime()
      val base = emb.repartition(col("vec_id")).persist()
      var assigned = base.select(col("vec_id"),
        pmod(col("vec_id"), lit(k)).as("cell"), col("v"), col("nrm"))
      for (_ <- 1 to iters) {
        val cent = medCent(assigned)
        val sim = VectorExpressions.vector_dot(col("v"), col("cv")) /
          (col("nrm") * col("cn"))
        assigned = base.crossJoin(broadcast(cent))
          .select(col("vec_id"), col("v"), col("nrm"), col("cell"), sim.as("csim"))
          .groupBy("vec_id")
          .agg(max_by(struct(col("cell"), col("v"), col("nrm")),
            struct(col("csim"), -col("cell"))).as("_best"))
          .select(col("vec_id"), col("_best.cell").as("cell"),
            col("_best.v").as("v"), col("_best.nrm").as("nrm"))
      }
      assigned.queryExecution.executedPlan // force through physical planning
      base.unpersist()
      println(f"  [planOnly-lazy] ${(System.nanoTime() - t0) / 1e9}%6.2fs")
    }
    for (rep <- 1 to 3) {
      println(s"rep $rep:")
      loop("lazy"); loop("centEvery"); loop("assignEvery"); planOnly()
    }
  }

  /** Writes the INTERNAL loop-body physical plans the checkpoint-backed
    * declared queries hide (r19 evidence): one connected-components pass
    * (the stepped relation, pre-materialization) and one k-medians Lloyd
    * iteration (the assignment relation). Both reconstruct the loop body
    * with the production code's exact operators so Exchange placement is
    * inspectable — the declared queries' final plans only show the
    * checkpointed RDD scan. */
  private def loopPlans(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    import graft.operators.{DedupQueries, GraphOps, Params, SimilarityQueries}
    import graft.functions.VectorExpressions
    def dump(name: String, df: DataFrame): Unit = {
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"$name.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[loopplans] $name -> $outDir/$name.txt")
    }
    // ── one CC pass, exactly the GraphOps loop body
    val edges = SparkEntry.queries("q_simhash_pairs")(spark, sfDir)
      .select(col("a"), col("b"))
    val sym = edges.select(col("a").as("u"), col("b").as("v"))
      .union(edges.select(col("b").as("u"), col("a").as("v")))
      .repartition(col("v"))
      .dropDuplicates("u", "v")
      .persist()
    sym.count() // materialize the cache so the dumped plan reads as at runtime
    val labels = sym.groupBy("u").agg(min(col("v")).as("nmin"))
      .select(col("u").as("id"), least(col("u"), col("nmin")).as("component"))
      .localCheckpoint()
    val stepped = sym
      .join(labels, sym("v") === labels("id"))
      .select(col("u").as("id"), col("component"), lit(false).as("own"))
      .union(labels.select(col("id"), col("component"), lit(true).as("own")))
      .groupBy("id")
      .agg(min(col("component")).as("component"),
        max(when(col("own"), col("component"))).as("old"))
    dump("internal_cc_pass", stepped)
    sym.unpersist()
    // ── one Lloyd iteration, exactly the kmediansCells loop body
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(VectorExpressions.vector_dot(col("v"), col("v"))))
    val base = e.repartition(col("vec_id")).persist()
    base.count() // materialize the cache so the dumped plan reads as at runtime
    val assigned0 = base.select(col("vec_id"),
      pmod(col("vec_id"), lit(Params.KMedK)).as("cell"), col("v"), col("nrm"))
    val cent = assigned0.select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos")).agg(median(col("x")).as("av"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("av")))).as("pa"))
      .select(col("cell"), transform(col("pa"), p => p.getField("av")).as("cv"))
      .withColumn("cn", sqrt(VectorExpressions.vector_dot(col("cv"), col("cv"))))
      .localCheckpoint()
    val assigned1 = base
      .crossJoin(broadcast(cent.select(
        collect_list(struct(col("cell"), col("cv"), col("cn"))).as("cs"))))
      .withColumn("_cands", transform(col("cs"), c =>
        struct(c.getField("cell").as("cell"),
          (VectorExpressions.vector_dot(col("v"), c.getField("cv")) /
            (col("nrm") * c.getField("cn"))).as("csim"))))
      .withColumn("_best", aggregate(col("_cands"),
        struct(lit(Long.MaxValue).as("cell"),
          lit(Double.NegativeInfinity).as("csim")),
        (acc, c) => when(c.getField("csim") > acc.getField("csim") ||
            (c.getField("csim") === acc.getField("csim") &&
              c.getField("cell") < acc.getField("cell")), c).otherwise(acc)))
      .select(col("vec_id"), col("_best.cell").as("cell"), col("v"), col("nrm"))
    dump("internal_kmeans_iteration", assigned1)
    base.unpersist()
  }

  /** Connected-components probe (r19): pass counts and wall time for the
    * real bench edge relation (q_simhash_pairs output), 3 warm reps —
    * what the clusters fixpoint actually pays per pass at this SF. */
  private def ccProbe(spark: SparkSession, sfDir: String): Unit = {
    import graft.operators.GraphOps
    val edges = SparkEntry.queries("q_simhash_pairs")(spark, sfDir)
      .select(col("a"), col("b")).persist()
    println(s"edges: ${edges.count()}")
    for (rep <- 1 to 3) {
      val t0 = System.nanoTime()
      GraphOps.connectedComponents(edges, "a", "b",
        onConverged = (p, j) => println(f"  rep $rep passes=$p jump=$j " +
          f"${(System.nanoTime() - t0) / 1e9}%6.2fs"))
        .write.format("noop").mode("overwrite").save()
    }
    edges.unpersist()
  }

  /** Columnar-vs-row boundary probe for the cells view (VERDICT r6
    * Missing #3 — the bench gate for `SupportsColumnarReads`, same
    * contract as the declined A2 Aggregator): one compressed generation
    * of 400k rows × 2 cells (800k cells), decoded driver-side with no
    * Spark job so ONLY the decode + materialization boundary is timed.
    *  - `row path`: the shipping [[SSTableCellReader]] — one
    *    GenericInternalRow per cell — consumed field-by-field;
    *  - `columnar path`: the same decoded cells filled into
    *    `OnHeapColumnVector`s (4096-row `ColumnarBatch`es) and consumed
    *    through `batch.rowIterator` — what a `SupportsColumnarReads`
    *    partition reader would hand Spark, including the
    *    ColumnarToRow-style row view on top.
    * Implement the columnar reader ONLY if this shows ≥1.5×: the decode
    * (varint/length parsing + Snappy) is shared by both paths, so the
    * delta is pure materialization. */
  private def columnarProbe(): Unit = {
    import graft.sources.sstable.{Column, SSTableReader, SSTableRow, SSTableWriter}
    import graft.sources.sstable.spark.{SSTableCellReader, SSTablePartition}
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    val dir = java.nio.file.Files.createTempDirectory("columnar-probe").toString
    val path = s"$dir/gen-Data.db"
    val w = new SSTableWriter(path) // compressed: the production path
    val v = Array.fill[Byte](32)(5)
    (0 until 400000).foreach { r =>
      w.append(SSTableRow(f"key$r%07d".getBytes,
        (0 until 2).map(i => Column.Normal(f"c$i%02d".getBytes, v, i.toLong))))
    }
    w.close()
    val schema = StructType(Seq(StructField("key", BinaryType),
      StructField("name", BinaryType), StructField("value", BinaryType),
      StructField("timestamp", LongType)))
    val end = new SSTableReader(path).dataLength
    val part = SSTablePartition(path, 0L, end, 0L, 0L)

    def rowPath(): (Long, Long) = {
      val r = new SSTableCellReader(part, schema)
      var n = 0L; var sum = 0L
      try while (r.next()) {
        val row = r.get()
        sum += row.getLong(3) + row.getBinary(0).length +
          row.getBinary(1).length + row.getBinary(2).length
        n += 1
      } finally r.close()
      (n, sum)
    }

    def columnarPath(): (Long, Long) = {
      import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
      import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
      val capacity = 4096
      val vecs = OnHeapColumnVector.allocateColumns(capacity, schema)
      val batch = new ColumnarBatch(vecs.asInstanceOf[Array[ColumnVector]])
      val it = new SSTableReader(path).rows(0L, end)
      var n = 0L; var sum = 0L; var rowIdx = 0
      def flush(): Unit = {
        batch.setNumRows(rowIdx)
        val rit = batch.rowIterator()
        while (rit.hasNext) {
          val row = rit.next()
          sum += row.getLong(3) + row.getBinary(0).length +
            row.getBinary(1).length + row.getBinary(2).length
          n += 1
        }
        vecs.foreach(_.reset())
        rowIdx = 0
      }
      try while (it.hasNext) {
        val srow = it.next()
        srow.columns.foreach {
          case Column.Normal(name, value, ts) =>
            if (rowIdx == capacity) flush()
            vecs(0).putByteArray(rowIdx, srow.key)
            vecs(1).putByteArray(rowIdx, name)
            vecs(2).putByteArray(rowIdx, value)
            vecs(3).putLong(rowIdx, ts)
            rowIdx += 1
          case _ =>
        }
      } finally { flush(); it.close() }
      (n, sum)
    }

    // warm-up (JIT + page cache), then min of 3 timed runs each
    rowPath(); columnarPath()
    def best(f: () => (Long, Long)): Double = (0 until 3).map { _ =>
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
    }.min
    val rowS = best(rowPath _)
    val colS = best(columnarPath _)
    val (nr, sr) = rowPath(); val (nc, sc) = columnarPath()
    require(nr == nc && sr == sc, s"paths disagree: ($nr,$sr) vs ($nc,$sc)")
    println(f"row_cells_scan     ${rowS}%8.3fs  ($nr cells)")
    println(f"columnar_cells_scan${colS}%8.3fs  ($nc cells)")
    println(f"row/columnar ratio ${rowS / colS}%8.2f  (gate: implement only if >= 1.5)")
  }

  /** Pushed limit / top-n vs full scans: 8 generations × 100k rows with
    * wide-ish values. Expect LIMIT 10 ≈ free (one generation planned,
    * 10 rows decoded), ORDER BY key LIMIT 10 ≈ per-generation head reads
    * (8 × 10 rows decoded), both ≪ the full decode they'd cost without
    * the pushdown. */
  /** Column-slice decode vs full wide-row decode: 50 rows × 20k cells of
    * 64 B (~64 MB of values). A pushed 100-name slice should read ~0.5%
    * of the value bytes (length-skip below the range, row-end seek at the
    * first name above it). */
  private def sliceProbe(spark: SparkSession,
                         time: String => (=> DataFrame) => Unit): Unit = {
    import graft.sources.sstable.{Column, SSTableRow, SSTableWriter}
    val dir = java.nio.file.Files.createTempDirectory("slice-probe").toString
    val w = new SSTableWriter(s"$dir/wide-Data.db") // compressed: the production path
    val v = Array.fill[Byte](64)(7)
    (0 until 50).foreach { r =>
      w.append(SSTableRow(f"row$r%04d".getBytes,
        (0 until 20000).map(i => Column.Normal(f"c$i%06d".getBytes, v, i.toLong))))
    }
    w.close()
    val cells = spark.read.format("sstable").option("view", "cells").load(dir)
    time("full_cells_scan") { cells.select("key", "name", "value") }
    time("sliced_100_names") {
      cells.filter(col("name") >= lit("c010000".getBytes) &&
          col("name") < lit("c010100".getBytes))
        .select("key", "name", "value")
    }
    time("sliced_point_name") {
      cells.filter(col("name") === lit("c019999".getBytes))
        .select("key", "name", "value")
    }
  }

  private def topnProbe(spark: SparkSession,
                        time: String => (=> DataFrame) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("topn-probe").toString
    val t0 = System.nanoTime()
    (0 until 8).foreach { g =>
      spark.range(100000).select(
          concat(lit("user"), lpad((col("id") * 8 + g).cast("string"), 8, "0"))
            .cast("binary").as("key"),
          array(struct(lit("c").cast("binary").as("name"), lit("NORMAL").as("state"),
            concat(lit("v" * 64), col("id")).cast("binary").as("value"),
            col("id").as("timestamp"), lit(0L).as("ttlSecs"),
            lit(0L).as("expiresMillis"))).as("columns"))
        .write.format("sstable").mode("append").save(dir)
    }
    println(f"write 8 generations         ${(System.nanoTime() - t0) / 1e9}%8.2fs")
    def scan = spark.read.format("sstable").load(dir)
    time("full_scan_decode")(scan.select("key", "columns"))
    time("limit10_pushed")(scan.limit(10))
    time("topn10_key_pushed")(scan.orderBy("key").limit(10))
    time("topn10_keys_only_indexed")(scan.select("key").orderBy("key").limit(10))
    // the unpushed shape for contrast: order by a derived column
    time("topn10_derived_unpushed")(
      scan.orderBy(substring(col("key").cast("string"), 1, 12)).limit(10))
  }

  /** Probe-vs-scan at many-generation scale: 16 generations × 50k rows,
    * 1000 probe keys. Expect lookupJoin ≪ scan+filter, and warm probes
    * (metadata cache hit) ≪ cold. */
  private def lookupProbe(spark: SparkSession,
                          time: String => (=> DataFrame) => Unit): Unit = {
    import graft.operators.SSTableOps
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lookup-probe").toString
    val t0 = System.nanoTime()
    (0 until 16).foreach { g =>
      spark.range(50000).select(
          concat(lit("user"), lpad(col("id").cast("string"), 7, "0"))
            .cast("binary").as("key"),
          array(struct(lit("c").cast("binary").as("name"), lit("NORMAL").as("state"),
            concat(lit(s"g$g-"), col("id")).cast("binary").as("value"),
            (col("id") * 16 + g).as("timestamp"), lit(0L).as("ttlSecs"),
            lit(0L).as("expiresMillis"))).as("columns"))
        .write.format("sstable").mode("append").save(dir)
    }
    println(f"write 16 generations        ${(System.nanoTime() - t0) / 1e9}%8.2fs")
    val probes = spark.range(1000)
      .select(concat(lit("user"), lpad((col("id") * 37 % 50000).cast("string"), 7, "0"))
        .cast("binary").as("key"))
    time("lookupJoin_cold")(SSTableOps.lookupJoin(probes, dir))
    time("lookupJoin_warm")(SSTableOps.lookupJoin(probes, dir))
    time("scan_filter_equiv") {
      SSTableOps.compactRows(spark.read.format("sstable").load(dir))
        .join(broadcast(probes.withColumnRenamed("key", "pk")),
          col("key") === col("pk"), "left_semi")
    }
  }

  /** Prices the SQL probe-JOIN route (r11) against the plan it
    * replaces: 16 generations × 50k rows, probe relations of 100 / 1k /
    * 10k keys, the SAME SQL with the strategy on vs off. The gate the
    * numbers inform: per-probe cost is seeks × candidate generations
    * (flat in table size), scan+join is table-size-linear — so the
    * crossover shifts further in the probes' favor the bigger the
    * table; at 100 TB the scan route is hours while probes stay
    * milliseconds-per-key. */
  private def probeJoinProbe(spark: SparkSession,
                             time: String => (=> DataFrame) => Unit): Unit = {
    import graft.sources.sstable.spark.SSTableLookupJoin
    val dir = java.nio.file.Files.createTempDirectory("probejoin").toString
    val t0 = System.nanoTime()
    (0 until 16).foreach { g =>
      spark.range(50000).select(
          concat(lit("user"), lpad(col("id").cast("string"), 7, "0"))
            .cast("binary").as("key"),
          array(struct(lit("c").cast("binary").as("name"), lit("NORMAL").as("state"),
            concat(lit(s"g$g-"), col("id")).cast("binary").as("value"),
            (col("id") * 16 + g).as("timestamp"), lit(0L).as("ttlSecs"),
            lit(0L).as("expiresMillis"))).as("columns"))
        .write.format("sstable").mode("append").save(dir)
    }
    println(f"write 16 generations        ${(System.nanoTime() - t0) / 1e9}%8.2fs")
    GraftExtensions.register(spark)
    spark.read.format("sstable").load(dir).createOrReplaceTempView("pj_t")
    Seq(100, 1000, 10000).foreach { n =>
      val probes = spark.range(n)
        .select(concat(lit("user"),
          lpad((col("id") * 37 % 50000).cast("string"), 7, "0"))
          .cast("binary").as("k"))
        .collect() // LocalRelation: broadcast-small stats, like a real key list
      spark.createDataFrame(
        java.util.Arrays.asList(probes: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.BinaryType))))
        .createOrReplaceTempView("pj_probe")
      val sql = "SELECT p.k, t.columns FROM pj_probe p JOIN pj_t t ON p.k = t.key"
      val on = spark.sql(sql)
      require(on.queryExecution.executedPlan.toString.contains("SSTableLookupJoin"),
        "probe path must plan")
      time(f"probe_join_$n%-6d cold")(spark.sql(sql))
      time(f"probe_join_$n%-6d warm")(spark.sql(sql))
      spark.conf.set(SSTableLookupJoin.EnabledKey, "false")
      try time(f"scan_join_$n%-7d")(spark.sql(sql))
      finally spark.conf.unset(SSTableLookupJoin.EnabledKey)
    }
  }

  /** Scale probe (VERDICT r5 #8): synthetic documents/embeddings at 1×
    * and 10× the sf0.1 row counts, in memory, timing the iterative
    * family's shapes — MinHash signatures (narrow one-pass), the
    * signatures→pairs→clusters dedup chain (banded equi-join + iterated
    * CC fixpoint), and k-medians Lloyd training. The pin: per-shape cost
    * must grow roughly linearly with input (each pass is a linear scan /
    * equi-join; pass COUNT is data-independent for quasi-clique graphs
    * and fixed Lloyd iterations). Read the two runs' ratio — super-linear
    * growth means an accidental all-pairs join or lineage blow-up crept
    * in. Every 20th doc clones its neighbor's text so the pair graph has
    * real clusters at both scales. */
  private def scaleProbe(spark: SparkSession,
                         time: String => (=> DataFrame) => Unit): Unit = {
    import graft.operators.{DedupQueries, GraphOps, SimilarityQueries}
    def docs(n: Long): DataFrame = {
      val src = when(pmod(col("id"), lit(20L)) === 0 && col("id") > 0,
        col("id") - 1).otherwise(col("id"))
      // words must be lowercase-ALPHA — the tokenizer splits on [^a-z]+,
      // so digit suffixes would collapse every word to "w"
      spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 60).map(i =>
          translate(pmod(xxhash64(src * lit(i.toLong + 7L)), lit(9973L))
            .cast("string"), "0123456789", "abcdefghij")): _*)
          .as("text"))
    }
    def emb(n: Long, dim: Int = 32): DataFrame =
      spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), i =>
          (pmod(xxhash64(col("id") * (i.cast("long") + 3L)), lit(1000L)) / 500.0 - 1.0))
          .as("v"))
        .withColumn("nrm", sqrt(graft.functions.VectorExpressions
          .vector_dot(col("v"), col("v"))))
    for (scale <- Seq(1L, 10L, 100L)) {
      val d = docs(5000L * scale).persist()
      d.count() // materialize: the probe times operators, not generation
      time(f"signatures_${scale}%02dx")(DedupQueries.minhashSignatures(d))
      time(f"clusters_${scale}%02dx") {
        GraphOps.connectedComponents(
          DedupQueries.minhashPairs(DedupQueries.minhashSignatures(d)), "a", "b",
          // pass-count pin (VERDICT r6 #6): wall time alone hid the
          // pass-9 jump activation that regressed q_dedup_clusters
          onConverged = (passes, jumpPasses) => println(
            f"  clusters_${scale}%02dx passes=$passes jumpPasses=$jumpPasses"))
      }
      val e = emb(2000L * scale).persist()
      e.count()
      time(f"kmeans_${scale}%02dx")(SimilarityQueries.kmediansCells(e, 16, 5)._1)
      d.unpersist(); e.unpersist()
    }
  }

  /** Materialize the ONE-DECADE-UP dataset (VERDICT r11 #5): every FACT
    * table of `src` (sf0.1) replicated ×10 into `dst` with
    * REPLICA-DISJOINT identity, so the real oracle queries run a decade
    * up with their structure scaling LINEARLY:
    *  - fact keys shifted per replica (FK consistency kept within a
    *    replica; the dims — region/nation/customer/supplier/part — stay
    *    fixed, so each dim key simply owns 10× facts);
    *  - document text passed through a replica-specific alphabet
    *    ROTATION: within-replica duplicate/near-dup structure is
    *    preserved bijectively (shingles map 1:1), cross-replica shingles
    *    collide ~never — naive copying would make every doc a 10-way
    *    exact duplicate and blow the pair queries up quadratically;
    *  - embedding dims rotated per replica (norms and within-replica
    *    cosine structure preserved; cross-replica vectors decorrelated).
    * Replica 0 is the identity — the original rows survive verbatim.
    * `runMain graft.PerfProbe sf1build [src] [dst]`, then point Bench at
    * dst via SPARK_GRAFT_SF_DIR. */
  private def sf1Build(spark: SparkSession, src: String, dst: String): Unit = {
    val R = 10
    val Shift = 1000000000L // all source ids are far below 1e9
    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(t: String)(df: DataFrame): Unit = {
      df.coalesce(8).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[sf1build] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    def replicate(df: DataFrame)(per: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until R).map(r => per(df, r)).reduce(_.unionAll(_))
    // dims: verbatim
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(t)(read(t)))
    write("orders")(replicate(read("orders")) { (df, r) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(r * Shift))
    })
    write("lineitem")(replicate(read("lineitem")) { (df, r) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(r * Shift))
    })
    write("events")(replicate(read("events")) { (df, r) =>
      df.withColumn("event_id", col("event_id") + lit(r * Shift))
        .withColumn("user_id", col("user_id") + lit(r * Shift))
    })
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase(java.util.Locale.ROOT)
    write("documents")(replicate(read("documents")) { (df, r) =>
      val rotL = lower.drop(r) + lower.take(r)
      val rotU = upper.drop(r) + upper.take(r)
      df.withColumn("doc_id", col("doc_id") + lit(r * Shift))
        .withColumn("text",
          translate(translate(col("text"), lower, rotL), upper, rotU))
    })
    write("embeddings")(replicate(read("embeddings")) { (df, r) =>
      df.withColumn("vec_id", col("vec_id") + lit(r * Shift))
        .withColumn("embedding", when(lit(r) === 0, col("embedding")).otherwise(
          concat(slice(col("embedding"), r + 1, 10000),
            slice(col("embedding"), 1, r))))
    })
  }

  /** Hot-key skew: ONE key holding `hot` cell versions next to `normal`
    * ordinary keys — the wide-row shape where the unsalted merge funnels
    * the hot key's whole per-cell stream through one aggregation buffer.
    * Each variant runs twice; read the second (steady-state) line. */
  private def skewProbe(spark: SparkSession,
                        time: String => (=> DataFrame) => Unit): Unit = {
    import graft.operators.SSTableOps
    val hot = 2000000L
    val normal = 100000L
    val wide = spark.range(hot).select(
        lit("hotkey").cast("binary").as("key"),
        array(struct(
          concat(lit("c"), pmod(col("id"), lit(200000L))).cast("binary").as("name"),
          lit("NORMAL").as("state"), col("id").cast("string").cast("binary").as("value"),
          col("id").as("timestamp"), lit(0L).as("ttlSecs"),
          lit(0L).as("expiresMillis"))).as("columns"))
      .union(spark.range(normal).select(
        concat(lit("k"), col("id")).cast("binary").as("key"),
        array(struct(
          lit("c").cast("binary").as("name"), lit("NORMAL").as("state"),
          col("id").cast("string").cast("binary").as("value"),
          col("id").as("timestamp"), lit(0L).as("ttlSecs"),
          lit(0L).as("expiresMillis"))).as("columns")))
    for (pass <- 1 to 2) {
      time(s"compactRows_pass$pass")(SSTableOps.compactRows(wide))
      time(s"compactRowsSalted_pass$pass")(SSTableOps.compactRowsSalted(wide))
    }
  }

  /** Price the delete-shadow machinery at scale: a 400k-row directory
    * with 100k pending deleted keys — shadow load (driver, plan time),
    * delete-aware scan vs raw scan, and the post-compaction scan once
    * the debt is folded away. `runMain graft.PerfProbe deletes`. */
  /** Prices the delta row-level path (SQL UPDATE) at probe scale: 400k
    * rows, a 10%-selectivity value-predicate UPDATE through the catalog.
    * What the numbers must show for the O(changed rows) claim to hold:
    * the op appends a handful of generations (re-insert filesets + ONE
    * tombstone generation) instead of rewriting 400k rows, the
    * delete-aware scan afterwards still prices like the deletes probe's
    * shadow reads, and compaction folds the debt away.
    * `runMain graft.PerfProbe rowlevel`. */
  private def rowLevelProbe(spark: SparkSession): Unit = {
    import graft.operators.SSTableOps
    import graft.sources.sstable.LocalStorage
    val wh = java.nio.file.Files.createTempDirectory("rowlevelprobe").toString
    val dir = s"$wh/p/t"
    val n = 400000L
    spark.range(n).select(
        concat(lit("k"), lpad(col("id").cast("string"), 7, "0")).cast("binary").as("key"),
        array(struct(lit("c").cast("binary").as("name"), lit("NORMAL").as("state"),
          col("id").cast("string").cast("binary").as("value"),
          col("id").as("timestamp"), lit(0L).as("ttlSecs"),
          lit(0L).as("expiresMillis"))).as("columns"))
      .write.format("sstable").mode("overwrite").save(dir)
    spark.conf.set("spark.sql.catalog.graft_probe",
      classOf[graft.sources.sstable.spark.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_probe.warehouse", wh)
    val before = LocalStorage.listDataFiles(dir).length
    t("update_10pct_400k_sql") {
      spark.sql("UPDATE graft_probe.p.t SET columns = array(named_struct(" +
        "'name', CAST('c' AS BINARY), 'state', 'NORMAL', " +
        "'value', CAST('upd' AS BINARY), 'timestamp', CAST(0 AS BIGINT), " +
        "'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT))) " +
        "WHERE cast(key as string) like '%0'")
    }
    val after = LocalStorage.listDataFiles(dir).length
    println(s"  generations: $before -> $after (append-only delta)")
    for (pass <- 1 to 2)
      t(s"scan_live_state_pass$pass") {
        val c = spark.sql("SELECT * FROM graft_probe.p.t").count()
        if (pass == 1) {
          // 360k untouched + 40k updated + 40k shadowed-version rows gone
          println(s"  visible row versions: $c (want ${n})")
        }
      }
    t("compact_fold_debt") {
      while (SSTableOps.compactInPlace(spark, dir, minThreshold = 2) > 0) ()
    }
    t("scan_after_fold")(spark.sql("SELECT * FROM graft_probe.p.t").count())
  }

  /** Time an action, print one aligned line — shared by the probes. */
  private def t[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
    r
  }

  /** Serial vs parallel cross-bucket folds in compactBucketedInPlace:
    * each fold is one single-threaded merge on the driver, so the serial
    * loop keeps ~1 core busy; parallel folds should approach
    * min(buckets, slots)× on a multi-core box. */
  private def bucketFoldProbe(spark: SparkSession): Unit = {
    import graft.operators.SSTableOps
    def mkDir(): String = {
      val dir = java.nio.file.Files.createTempDirectory("bucketfold").toString
      // 16 buckets × 4 generations each
      (0 until 4).foreach { g =>
        val df = spark.range(200000).select(
          concat(lit("k"), lpad(((col("id") * 4 + g) % 800000).cast("string"), 7, "0"))
            .cast("binary").as("key"),
          array(struct(lit("c").cast("binary").as("name"), lit("NORMAL").as("state"),
            col("id").cast("string").cast("binary").as("value"),
            (col("id") + g * 1000000L).as("timestamp"), lit(0L).as("ttlSecs"),
            lit(0L).as("expiresMillis"))).as("columns"))
        SSTableOps.writeBucketed(df, dir, 16)
      }
      dir
    }
    val serialDir = mkDir(); val parallelDir = mkDir()
    val f1 = t("fold_serial_p1")(
      SSTableOps.compactBucketedInPlace(spark, serialDir, parallelism = 1))
    val f2 = t("fold_parallel_default")(
      SSTableOps.compactBucketedInPlace(spark, parallelDir))
    println(s"folds: serial=$f1 parallel=$f2 (want 16 == 16)")
  }

  /** Snapshot capture / rollback / expire cost on a MANY-generation
    * directory: all three are metadata + hardlink operations, so they
    * must price at O(#filesets × #sidecars) renames/links, independent
    * of data volume — the property that makes the pin lifecycle viable
    * on a 100 TB directory. */
  /** Prices the r9 maintenance machinery so its claims are measured,
    * not asserted: lease acquire→renew→fence→release cycles, history
    * record/read at log sizes, and autocompact's lease-free pre-check
    * over a many-generation directory (the every-epoch hot path). */
  private def maintenanceProbe(spark: SparkSession): Unit = {
    import graft.sources.sstable.{History, LocalStorage, MaintenanceLease}
    val dir = java.nio.file.Files.createTempDirectory("maintprobe").toString

    // lease cycle: the overhead every maintenance op (and every
    // triggered autocompact) pays once
    val cycles = 200
    var t0 = System.nanoTime()
    (1 to cycles).foreach { _ =>
      val l = MaintenanceLease.acquire(dir, LocalStorage, "probe")
      l.checkHeld()
      l.release()
    }
    println(f"lease acquire+fence+release  ${(System.nanoTime() - t0) / 1e6 / cycles}%8.3f ms/cycle ($cycles cycles)")

    // history record: the per-commit cost
    t0 = System.nanoTime()
    val events = 1000
    (1 to events).foreach(i => History.record(LocalStorage, dir, "probe",
      added = Seq(s"gen-$i-Data.db"), detail = s"i=$i"))
    println(f"history record               ${(System.nanoTime() - t0) / 1e6 / events}%8.3f ms/event ($events events)")

    // history read: the t.history scan at a year-of-hourly-commits size
    t0 = System.nanoTime()
    val n = History.events(LocalStorage, dir).length
    println(f"history read ($n%4d events)   ${(System.nanoTime() - t0) / 1e6}%8.1f ms total")

    // autocompact pre-check on a directory that stays under the bound
    // via the SIDECAR path (raw count over, data generations under —
    // the steady state of every UPDATE/MERGE-touched table, review r9
    // #5): the probe must price the delete-only filter, not the
    // count-only short-circuit, so most generations here are
    // delete-only and the raw count exceeds the threshold
    def flushGen(tag: Int, deleteOnly: Boolean): Unit = {
      val w = new graft.sources.sstable.SSTableWriter(
        f"$dir/g$tag%05d-Data.db", compress = false)
      try w.append(
        if (deleteOnly)
          graft.sources.sstable.SSTableRow(f"k$tag%05d".getBytes, Nil,
            Some(graft.sources.sstable.RowTombstone(1700000000, tag.toLong)))
        else graft.sources.sstable.SSTableRow(f"k$tag%05d".getBytes,
          Seq(graft.sources.sstable.Column.Normal("c".getBytes, "v".getBytes, tag.toLong))))
      finally w.close()
    }
    (1 to 40).foreach(flushGen(_, deleteOnly = false))
    (41 to 110).foreach(flushGen(_, deleteOnly = true))
    // warm the metadata cache like a steady-state committer's would be
    graft.operators.SSTableOps.autoCompact(spark, dir, threshold = 50, buckets = None)
    t0 = System.nanoTime()
    val checks = 50
    (1 to checks).foreach(_ =>
      graft.operators.SSTableOps.autoCompact(spark, dir, threshold = 50, buckets = None))
    println(f"autocompact no-op pre-check  ${(System.nanoTime() - t0) / 1e6 / checks}%8.3f ms/commit (110 generations, 70 delete-only, sidecar path)")
  }

  /** Prices the round-10 surfaces: the catalog append's link-publish
    * commit (vs the path API's rename-publish), the CALL lookup probe
    * path, and the DROP → undrop cycle. All must be metadata-cheap —
    * a swap-resilient commit that slowed every INSERT, or a
    * "recoverable" DROP that copied 100 TB, would be the wrong trade. */
  private def lifecycleProbe(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val wh = java.nio.file.Files.createTempDirectory("lcprobe").toString
    spark.conf.set("spark.sql.catalog.graft_probe",
      "graft.sources.sstable.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_probe.warehouse", wh)
    spark.sql("CREATE NAMESPACE graft_probe.p")
    spark.sql("CREATE TABLE graft_probe.p.t")
    val pathDir = s"$wh/path-api"
    def rows(n: Int, tag: Int) = spark.range(n).select(
      concat(lit(f"k$tag%03d-"), format_string("%05d", col("id")))
        .cast("binary").as("key"),
      array(struct(lit("c").cast("binary").as("name"),
        lit("NORMAL").as("state"), lit("v").cast("binary").as("value"),
        lit(tag.toLong).as("timestamp"), lit(0L).as("ttlSecs"),
        lit(0L).as("expiresMillis"))).as("columns"),
      lit(null).cast("struct<localDeletionTime: int, markedForDeleteAt: bigint>")
        .as("rowTombstone"))
    // warm both write paths once (codegen/JIT)
    rows(1000, 0).createOrReplaceTempView("probe_rows_warm")
    spark.sql("INSERT INTO graft_probe.p.t SELECT * FROM probe_rows_warm")
    rows(1000, 0).write.format("sstable").mode("append").save(pathDir)
    val commits = 10
    var t0 = System.nanoTime()
    (1 to commits).foreach { i =>
      rows(1000, i).createOrReplaceTempView(s"probe_rows_$i")
      spark.sql(s"INSERT INTO graft_probe.p.t SELECT * FROM probe_rows_$i")
    }
    val catalogMs = (System.nanoTime() - t0) / 1e6 / commits
    t0 = System.nanoTime()
    (1 to commits).foreach(i =>
      rows(1000, i).write.format("sstable").mode("append").save(pathDir))
    val pathMs = (System.nanoTime() - t0) / 1e6 / commits
    // ISOLATE the swap-resilience mechanism (outside staging +
    // link-publish + staged-copy cleanup): the same path-API write
    // with only the commitretry option toggled — the catalog-vs-path
    // delta above additionally carries SQL statement overhead
    val retryDir = s"$wh/path-retry"
    rows(1000, 0).write.format("sstable")
      .option("commitretry", "true").mode("append").save(retryDir)
    t0 = System.nanoTime()
    (1 to commits).foreach(i =>
      rows(1000, i).write.format("sstable")
        .option("commitretry", "true").mode("append").save(retryDir))
    val retryMs = (System.nanoTime() - t0) / 1e6 / commits
    println(f"catalog INSERT (SQL + link-publish)            $catalogMs%8.1f ms/commit")
    println(f"path-API append (rename-publish)               $pathMs%8.1f ms/commit")
    println(f"path-API append (link-publish, same write)     $retryMs%8.1f ms/commit")
    println(f"swap-resilience mechanism alone                ${retryMs - pathMs}%8.1f ms/commit")

    // CALL lookup: per-probe cost against the multi-generation table
    val keys = (0 until 100).map(i => s"CAST('k00${1 + i % 9}-${f"${i * 37 % 1000}%05d"}' AS BINARY)")
      .mkString(", ")
    def lookupOnce(): Long = spark.sql(
      s"CALL graft_probe.system.lookup(table => 'p.t', keys => array($keys))")
      .count()
    lookupOnce() // cold: metadata loads
    t0 = System.nanoTime()
    val lkRuns = 10
    (1 to lkRuns).foreach(_ => lookupOnce())
    println(f"CALL lookup warm (100 probes, ${1 + commits} gens)        " +
      f"${(System.nanoTime() - t0) / 1e6 / lkRuns / 100}%8.3f ms/probe")

    // DROP -> undrop: both must be O(metadata) renames, never copies
    t0 = System.nanoTime()
    spark.sql("DROP TABLE graft_probe.p.t")
    val dropMs = (System.nanoTime() - t0) / 1e6
    t0 = System.nanoTime()
    spark.sql("CALL graft_probe.system.undrop_table(table => 'p.t')")
    val undropMs = (System.nanoTime() - t0) / 1e6
    println(f"DROP TABLE (trash swap, ${1 + commits} gens)              $dropMs%8.1f ms")
    println(f"CALL undrop_table                              $undropMs%8.1f ms")
  }

  /** Lifecycle pricing one decade up (VERDICT r12 Next #6): the r12
    * lifecycle numbers were single-scale (11 generations); this runs the
    * same operations at 11 AND ~101 generations and prints per-op
    * SLOPES, so the O(table files) copy claims (DROP's trash copy,
    * undrop's restore) and the O(metadata) pointer claims (INSERT
    * commit, finalize) are confirmed — or exposed — by measurement.
    * The trash copy is the candidate super-linear step: it must scale
    * ~10× with 10× the files, never worse. */
  private def lifecycleScaleProbe(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val wh = java.nio.file.Files.createTempDirectory("lcscale").toString
    spark.conf.set("spark.sql.catalog.graft_lsc",
      "graft.sources.sstable.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_lsc.warehouse", wh)
    spark.sql("CREATE NAMESPACE graft_lsc.p")
    def rows(n: Int, tag: Int) = spark.range(n).select(
      concat(lit(f"k$tag%04d-"), format_string("%05d", col("id")))
        .cast("binary").as("key"),
      array(struct(lit("c").cast("binary").as("name"),
        lit("NORMAL").as("state"), lit("v").cast("binary").as("value"),
        lit(tag.toLong).as("timestamp"), lit(0L).as("ttlSecs"),
        lit(0L).as("expiresMillis"))).as("columns"),
      lit(null).cast("struct<localDeletionTime: int, markedForDeleteAt: bigint>")
        .as("rowTombstone"))
    // order matters: the FIRST scale pays JVM/codegen warm-up and would
    // invert the slope (the r12-era single-scale numbers were all cold).
    // Run 10 (cold, discarded), then 100, then 10 again — the slope
    // compares the two WARM runs.
    val results = Seq(10, 100, 10).zipWithIndex.map { case (commits, run) =>
      val t = s"graft_lsc.p.t${commits}_$run"
      spark.sql(s"CREATE TABLE $t")
      // warm the write path once per table
      rows(500, 0).createOrReplaceTempView("lcscale_warm")
      spark.sql(s"INSERT INTO $t SELECT * FROM lcscale_warm")
      var t0 = System.nanoTime()
      (1 to commits).foreach { i =>
        rows(500, i).createOrReplaceTempView(s"lcscale_$i")
        spark.sql(s"INSERT INTO $t SELECT * FROM lcscale_$i")
      }
      val insertMs = (System.nanoTime() - t0) / 1e6 / commits
      val gens = graft.sources.sstable.LocalStorage
        .listDataFiles(s"$wh/p/t${commits}_$run").length
      val files = graft.sources.sstable.LocalStorage
        .listFiles(s"$wh/p/t${commits}_$run").length
      t0 = System.nanoTime()
      spark.sql(s"DROP TABLE $t")
      val dropMs = (System.nanoTime() - t0) / 1e6
      t0 = System.nanoTime()
      spark.sql(s"CALL graft_lsc.system.undrop_table(table => 'p.t${commits}_$run')")
      val undropMs = (System.nanoTime() - t0) / 1e6
      // REPLACE: trash copy of the now-(commits+1)-gen tree + migrate home
      t0 = System.nanoTime()
      spark.sql(s"CREATE OR REPLACE TABLE $t AS SELECT * FROM $t " +
        "WHERE key < CAST('k0000-00010' AS BINARY)")
      val replaceMs = (System.nanoTime() - t0) / 1e6
      println(f"gens=$gens%4d files=$files%5d  INSERT $insertMs%7.1f ms/commit  " +
        f"DROP $dropMs%8.1f ms  undrop $undropMs%8.1f ms  REPLACE $replaceMs%8.1f ms")
      (gens, files, insertMs, dropMs, undropMs, replaceMs)
    }
    val (g2, f2, i2, d2, u2, r2) = results(1) // 100 commits, warm
    val (g1, f1, i1, d1, u1, r1) = results(2) // 10 commits, warm
    println(f"slopes at ${f2.toDouble / f1}%.1fx files (${g2}%d vs ${g1}%d gens):")
    println(f"  INSERT  ${i2 / i1}%5.2fx  (want ~1x: O(metadata) commit)")
    println(f"  DROP    ${d2 / d1}%5.2fx  (want <=${f2.toDouble / f1}%.1fx: O(files) trash copy)")
    println(f"  undrop  ${u2 / u1}%5.2fx  (want <=${f2.toDouble / f1}%.1fx: O(files) restore copy)")
    println(f"  REPLACE ${r2 / r1}%5.2fx  (want <=${f2.toDouble / f1}%.1fx: O(files) copy+migrate)")
  }

  private def pinsProbe(spark: SparkSession): Unit = {
    import graft.operators.SSTableOps
    import graft.sources.sstable.LocalStorage
    val dir = java.nio.file.Files.createTempDirectory("pinsprobe").toString
    def flush(tag: Int): Unit =
      spark.range(500).select(
          concat(lit("k"), lpad(((col("id") + tag * 37) % 2000).cast("string"), 5, "0"))
            .cast("binary").as("key"),
          array(struct(lit("c").cast("binary").as("name"), lit("NORMAL").as("state"),
            lit(s"v$tag").cast("binary").as("value"), lit(tag.toLong).as("timestamp"),
            lit(0L).as("ttlSecs"), lit(0L).as("expiresMillis"))).as("columns"))
        .write.format("sstable").option("writepartitions", "1")
        .mode("append").save(dir)
    (1 to 200).foreach(flush)
    println(s"generations: ${LocalStorage.listDataFiles(dir).length}")
    t("snapshot_200_gens")(SSTableOps.snapshot(dir, "pin"))
    (201 to 250).foreach(flush)
    val (restored, removed) = t("rollback_50_gens_drift")(
      SSTableOps.rollbackToSnapshot(dir, "pin"))
    println(s"rollback: restored=$restored removed=$removed (want 0, 50)")
    t("expire_pin")(SSTableOps.expireSnapshots(dir, olderThanMs = -1))
  }

  private def deletesProbe(spark: SparkSession): Unit = {
    import graft.operators.SSTableOps
    import graft.sources.sstable.LocalStorage
    val dir = java.nio.file.Files.createTempDirectory("delprobe").toString
    val n = 400000L
    val dels = 100000L
    spark.range(n).select(
        concat(lit("k"), lpad(col("id").cast("string"), 7, "0")).cast("binary").as("key"),
        array(struct(lit("c").cast("binary").as("name"), lit("NORMAL").as("state"),
          col("id").cast("string").cast("binary").as("value"),
          col("id").as("timestamp"), lit(0L).as("ttlSecs"),
          lit(0L).as("expiresMillis"))).as("columns"))
      .write.format("sstable").mode("overwrite").save(dir)
    val doomed = (0L until dels).map(i =>
      s"k${"%07d".format(i * (n / dels))}".getBytes: Any).toArray
    t("deleteWhere_100k_keys") {
      new graft.sources.sstable.spark.SSTableTable(Map(
          graft.sources.sstable.spark.SSTableSource.PathOption -> dir))
        .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.In("key", doomed)))
    }
    t("shadow_load_driver") {
      val delGens = LocalStorage.listDataFiles(dir).filter(f =>
        graft.sources.sstable.spark.DeleteShadow.isDeleteOnly(
          new graft.sources.sstable.SSTableReader(f, LocalStorage).statistics))
      val sh = graft.sources.sstable.spark.DeleteShadow.load(
        delGens, LocalStorage, None, 4 << 20)
      println(s"  shadow entries: ${sh.size}")
      // transport cost (VERDICT r7 Missing #3): the shadow used to ride
      // the reader factory INSIDE the task binary — every concurrent
      // task deserialized its own copy. Broadcast ships it once per
      // executor and `.value` shares one instance across tasks; the
      // factory is left carrying a ~hundred-byte stub.
      def serBytes(o: AnyRef): Int = {
        val bos = new java.io.ByteArrayOutputStream()
        val oos = new java.io.ObjectOutputStream(bos)
        oos.writeObject(o); oos.close(); bos.size()
      }
      val inline = serBytes(sh)
      val factory = new graft.sources.sstable.spark.SSTableReaderFactory(
        graft.sources.sstable.spark.SSTableSchema.schema, None,
        shadowBc = Some(spark.sparkContext.broadcast(sh)))
      println(s"  shadow inline: $inline B/task-deser; " +
        s"factory with broadcast stub: ${serBytes(factory)} B")
    }
    for (pass <- 1 to 2) {
      t(s"scan_raw_pass$pass")(
        spark.read.format("sstable").load(dir).count())
      t(s"scan_deleteAware_pass$pass") {
        val c = spark.read.format("sstable").option("applydeletes", "true")
          .load(dir).count()
        if (pass == 1) println(s"  live rows: $c (want ${n - dels})")
        c
      }
    }
    t("compact_fold_debt") {
      while (SSTableOps.compactInPlace(spark, dir, minThreshold = 2) > 0) ()
    }
    t("scan_deleteAware_folded")(
      spark.read.format("sstable").option("applydeletes", "true")
        .load(dir).count())
  }

  /** 10× scale probe for the round-15 retraction + covering-index
    * paths: does a FIXED-size retraction (and a fixed-size rerank
    * point-read fetch) stay flat as the store/index grows 10×? The
    * expected shape: the retraction's probe/verify/subtract stages are
    * delta-sized (point reads), and its one O(store) stage is the
    * additivity sentinel's marker count (narrow key-only/reconciled
    * rows) — so the slope should sit FAR below 10×; the probe prints
    * the stages so a regression names itself. Warm-up discipline as in
    * [[lifecycleScaleProbe]]: small (cold, discarded), big, small. */
  private def retractScaleProbe(spark: SparkSession,
                                churnOnly: Boolean = false): Unit = {
    import org.apache.spark.sql.functions._
    val wh = java.nio.file.Files.createTempDirectory("retrscale").toString
    spark.conf.set("spark.sql.catalog.graft_rsc",
      "graft.sources.sstable.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_rsc.warehouse", wh)
    spark.sql("CREATE NAMESPACE graft_rsc.p")
    // synthetic corpus: deterministic text, ~8 tokens/doc
    def corpus(n: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"retrsrc$n").toString
      spark.range(n).select(col("id").as("doc_id"),
          concat(lit("alpha beta gamma delta word"), col("id") % 997,
            lit(" tail"), col("id") % 31).as("text"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    if (!churnOnly) {
    val retractN = 500
    val results = Seq(20000, 200000, 20000).zipWithIndex.map {
      case (n, run) =>
        val src = corpus(n)
        val tbl = s"p.df${n}_$run"
        spark.sql(s"CALL graft_rsc.system.update_doc_freqs(table => " +
          s"'$tbl', source_dir => '$src', autocompact => 8)")
        val t0 = System.nanoTime()
        spark.sql(s"CALL graft_rsc.system.retract_doc_freqs(table => " +
          s"'$tbl', source_dir => '$src', " +
          s"where => 'doc_id % ${n / retractN} = 7')")
        val retractMs = (System.nanoTime() - t0) / 1e6
        // fixed-size delta re-ingest against the (now delete-aware)
        // membership probe — the post-retraction maintenance cost
        val t1 = System.nanoTime()
        spark.sql(s"CALL graft_rsc.system.update_doc_freqs(table => " +
          s"'$tbl', source_dir => '$src', " +
          s"where => 'doc_id % ${n / retractN} = 7', autocompact => 8)")
        val readmitMs = (System.nanoTime() - t1) / 1e6
        (n, run, retractMs, readmitMs)
    }
    results.foreach { case (n, run, r, a) =>
      println(f"df n=$n%7d run=$run retract(${retractN}docs)=$r%8.0f ms  readmit=$a%8.0f ms")
    }
    val warm = results.drop(1)
    println(f"df slope at 10x docs: retract ${warm(0)._3 / warm(1)._3}%.2fx, " +
      f"readmit ${warm(0)._4 / warm(1)._4}%.2fx (10x = linear)")

    // covering-index point reads: fixed 300-id fetch vs index size
    val vecResults = Seq(10000, 100000, 10000).zipWithIndex.map {
      case (n, run) =>
        val dir = java.nio.file.Files.createTempDirectory(s"retrvec$n").toString
        spark.range(n).select(col("id").as("vec_id"),
            (col("id") % 4).cast("int").as("label"),
            transform(sequence(lit(0), lit(7)),
              i => ((col("id") + i) % 13).cast("float")).as("embedding"))
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        val tbl = s"p.ix${n}_$run"
        spark.sql(s"CALL graft_rsc.system.build_ann_index(table => '$tbl', " +
          s"source_dir => '$dir', kind => 'ivf', k => 4, iters => 1, " +
          "store_vectors => true)")
        val ids = spark.range(300).select((col("id") * (n / 300)).as("vec_id"))
        val t0 = System.nanoTime()
        val got = graft.operators.AnnIndex.loadVectorsFor(spark,
          s"$wh/p/ix${n}_$run", ids).count()
        val fetchMs = (System.nanoTime() - t0) / 1e6
        require(got == 300, s"expected 300 vectors, got $got")
        (n, run, fetchMs)
    }
    vecResults.foreach { case (n, run, f) =>
      println(f"ann n=$n%7d run=$run fetch(300ids)=$f%8.0f ms")
    }
    val vwarm = vecResults.drop(1)
    println(f"ann slope at 10x vectors: fetch ${vwarm(0)._3 / vwarm(1)._3}%.2fx (10x = linear)")

    // ── orchestrated takedown at 10x store size, under concurrent
    // serving reads (round 16, VERDICT r15 #7): one CALL takedown
    // drives all three legs for a fixed 500-doc predicate while two
    // free-running readers serve point reads from the df store and
    // membership probes from the signature store the whole time —
    // the evidence that a takedown neither scales with the stores nor
    // disturbs serving. Same warm-run discipline: small (cold,
    // discarded), big, small.
    val tdN = 500
    val tdResults = Seq(20000, 200000, 20000).zipWithIndex.map {
      case (n, run) =>
        val src = corpus(n)
        // vectors keyed by the SAME doc ids (the ANN leg's contract)
        spark.range(n).select(col("id").as("vec_id"),
            (col("id") % 4).cast("int").as("label"),
            transform(sequence(lit(0), lit(7)),
              i => ((col("id") + i) % 13).cast("float")).as("embedding"))
          .write.mode("overwrite").parquet(s"$src/embeddings.parquet")
        val (df, sg, ix) = (s"p.tdf${n}_$run", s"p.tsg${n}_$run", s"p.tix${n}_$run")
        spark.sql(s"CALL graft_rsc.system.update_doc_freqs(table => '$df', " +
          s"source_dir => '$src', autocompact => 8)")
        spark.sql(s"CALL graft_rsc.system.update_signatures(table => '$sg', " +
          s"source_dir => '$src', autocompact => 8)")
        spark.sql(s"CALL graft_rsc.system.build_ann_index(table => '$ix', " +
          s"source_dir => '$src', kind => 'ivf', k => 4, iters => 1)")
        // free-running serving readers: df point reads + sig membership
        val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
        val errs = new java.util.concurrent.atomic.AtomicInteger(0)
        val reads = new java.util.concurrent.atomic.AtomicInteger(0)
        val terms = spark.range(50).select(
          concat(lit("word"), col("id") * 19).as("term"))
        val readers = Seq(
          new Thread(() => while (!stop.get()) {
            try {
              graft.operators.DfStore.docFreqsFor(terms, s"$wh/p/tdf${n}_$run")
                .count()
              graft.operators.DfStore.nDocsProbe(s"$wh/p/tdf${n}_$run")
              reads.incrementAndGet()
            } catch { case _: Throwable => errs.incrementAndGet() }
          }),
          new Thread(() => while (!stop.get()) {
            try {
              graft.operators.SignatureStore
                .storedIds(spark, s"$wh/p/tsg${n}_$run").limit(100).count()
              reads.incrementAndGet()
            } catch { case _: Throwable => errs.incrementAndGet() }
          }))
        readers.foreach(_.start())
        val t0 = System.nanoTime()
        spark.sql(s"CALL graft_rsc.system.takedown(df_table => '$df', " +
          s"sig_table => '$sg', ann_table => '$ix', source_dir => '$src', " +
          s"where => 'doc_id % ${n / tdN} = 7')").collect()
        val tdMs = (System.nanoTime() - t0) / 1e6
        // the spanning audit prices itself too (one row per store)
        val t1 = System.nanoTime()
        val status = spark.sql(s"CALL graft_rsc.system.takedown_status(" +
          s"df_table => '$df', sig_table => '$sg', ann_table => '$ix', " +
          s"where => 'doc_id % ${n / tdN} = 7')").collect()
        val stMs = (System.nanoTime() - t1) / 1e6
        require(status.forall(_.getAs[Long]("members") == 0L),
          s"takedown left members behind: ${status.mkString(", ")}")
        stop.set(true); readers.foreach(_.join())
        require(errs.get() == 0,
          s"${errs.get()} serving reads FAILED during the takedown")
        // the ledger is warehouse-global by design (round 17): clear
        // this run's entries so the next run's store builds — which
        // ingest the same id range — are not refused as re-admissions
        spark.sql("CALL graft_rsc.system.readmit(where => 'true')")
        (n, run, tdMs, stMs, reads.get())
    }
    tdResults.foreach { case (n, run, td, st, r) =>
      println(f"takedown n=$n%7d run=$run takedown(${tdN}docs)=$td%8.0f ms  " +
        f"status=$st%8.0f ms  concurrent serving reads=$r%5d (0 errors)")
    }
    val twarm = tdResults.drop(1)
    println(f"takedown slope at 10x stores: takedown ${twarm(0)._3 / twarm(1)._3}%.2fx, " +
      f"status ${twarm(0)._4 / twarm(1)._4}%.2fx (10x = linear)")

    // ── takedown-LEDGER consult cost at 10x ledger size (round 17,
    // VERDICT r16 #7): the ledger guard runs inside EVERY maintenance
    // ingest, so its cost must not scale with the number of removal
    // requests ever recorded. Expected shape: one driver-side existence
    // check when no ledger exists; otherwise a key-only ledger read +
    // size-gated broadcast semi-join against the slice's ids. Measured
    // as the operator pays it — a full update_doc_freqs CALL over a
    // CLEAN fixed-size slice with the ledger at 1x and 10x, plus the
    // raw consult alone. Warm discipline: small (cold, discarded),
    // big, small.
    val ledgerResults = Seq(5000, 50000, 5000).zipWithIndex.map {
      case (n, run) =>
        // a corpus whose FIRST n ids are ledgered (taken down) and a
        // disjoint, fixed-size CLEAN tail slice the maintainer ingests
        val src = corpus(n + 2000)
        val ledDir = s"${java.nio.file.Files
          .createTempDirectory(s"retrled$n")}/ledger"
        graft.operators.TakedownLedger.record(spark, ledDir, src,
          s"doc_id < $n")
        val cleanWhere = s"doc_id >= $n"
        val t0 = System.nanoTime()
        graft.operators.TakedownLedger.consult(spark, Some(ledDir),
          spark.range(n, n + 2000L).select(col("id").as("doc_id")),
          "probe", "probe")
        val consultMs = (System.nanoTime() - t0) / 1e6
        val t1 = System.nanoTime()
        graft.operators.DfStore.update(spark, s"graft_rsc.p.ldf${n}_$run",
          () => s"$wh/p/ldf${n}_$run", src, cleanWhere, 8,
          ledgerDir = Some(ledDir))
        val updateMs = (System.nanoTime() - t1) / 1e6
        (n, run, consultMs, updateMs)
    }
    ledgerResults.foreach { case (n, run, c, u) =>
      println(f"ledger n=$n%7d run=$run consult(2000ids)=$c%8.0f ms  " +
        f"update_doc_freqs(2000docs, consult inside)=$u%8.0f ms")
    }
    val lwarm = ledgerResults.drop(1)
    println(f"ledger slope at 10x entries: consult ${lwarm(0)._3 / lwarm(1)._3}%.2fx, " +
      f"guarded update ${lwarm(0)._4 / lwarm(1)._4}%.2fx (10x = linear)")
    }

    // ── ledger CHURN soak at 100x (round 18, VERDICT r17 #7): a
    // 500k-entry ledger (100x the probe above) built by one record,
    // then takedown/readmit churn cycles with TWO free-running GUARDED
    // maintainers consulting through every write. Prices record,
    // readmit and consult at 100x entries, proves the guarded
    // maintainers never fail mid-churn, and proves the write-triggered
    // full-STCS fold keeps the generation count bounded while the live
    // entry set is conserved exactly. Warm discipline: small (cold,
    // discarded), big, small.
    val churn = Seq(5000, 500000, 5000).zipWithIndex.map { case (n, run) =>
      val src = corpus(n + 2000)
      val ledDir = s"${java.nio.file.Files
        .createTempDirectory(s"churnled$n")}/ledger"
      val t0 = System.nanoTime()
      graft.operators.TakedownLedger.record(spark, ledDir, src,
        s"doc_id < $n")
      val recordMs = (System.nanoTime() - t0) / 1e6
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val errs = new java.util.concurrent.atomic.AtomicInteger(0)
      val loops = new java.util.concurrent.atomic.AtomicInteger(0)
      val cleanWhere = s"doc_id >= $n"
      val maintainers = Seq(
        new Thread(() => while (!stop.get()) {
          try {
            graft.operators.DfStore.update(spark,
              s"graft_rsc.p.cdf${n}_$run", () => s"$wh/p/cdf${n}_$run",
              src, cleanWhere, 8, ledgerDir = Some(ledDir))
            loops.incrementAndGet()
          } catch { case _: Throwable => errs.incrementAndGet() }
        }),
        new Thread(() => while (!stop.get()) {
          try {
            graft.operators.SignatureStore.update(spark,
              s"graft_rsc.p.csg${n}_$run", () => s"$wh/p/csg${n}_$run",
              src, cleanWhere, 8, ledgerDir = Some(ledDir))
            loops.incrementAndGet()
          } catch { case _: Throwable => errs.incrementAndGet() }
        }))
      maintainers.foreach(_.start())
      // churn: readmit a moving sub-slice, re-record it — the
      // compliance traffic pattern at steady state
      var readmitMs = 0.0
      var rerecordMs = 0.0
      val cycles = 5
      (0 until cycles).foreach { i =>
        val t1 = System.nanoTime()
        graft.operators.TakedownLedger.readmit(spark, ledDir,
          s"doc_id % 100 = $i")
        readmitMs += (System.nanoTime() - t1) / 1e6
        val t2 = System.nanoTime()
        graft.operators.TakedownLedger.record(spark, ledDir, src,
          s"doc_id < $n AND doc_id % 100 = $i")
        rerecordMs += (System.nanoTime() - t2) / 1e6
      }
      val t3 = System.nanoTime()
      graft.operators.TakedownLedger.consult(spark, Some(ledDir),
        spark.range(n, n + 2000L).select(col("id").as("doc_id")),
        "probe", "probe")
      val consultMs = (System.nanoTime() - t3) / 1e6
      stop.set(true)
      maintainers.foreach(_.join())
      require(errs.get() == 0,
        s"${errs.get()} guarded maintenance loops FAILED during churn")
      val gens = graft.sources.sstable.LocalStorage
        .listDataFiles(ledDir).length
      require(gens < 16,
        s"the churned ledger left $gens generations after " +
          s"${1 + 3 * cycles} appends — the fold is not bounding history")
      val live = graft.operators.TakedownLedger.ledgeredIds(spark, ledDir)
        .count()
      require(live == n,
        s"churn must conserve the live entry set: want $n, got $live")
      (n, run, recordMs, readmitMs / cycles, rerecordMs / cycles,
        consultMs, gens, loops.get())
    }
    churn.foreach { case (n, run, rec, rm, rr, c, g, l) =>
      println(f"ledger-churn n=$n%7d run=$run record=$rec%8.0f ms  " +
        f"readmit/cycle=$rm%8.0f ms  re-record/cycle=$rr%8.0f ms  " +
        f"consult(2000ids)=$c%8.0f ms  generations=$g%3d  " +
        f"guarded loops=$l%4d (0 errors)")
    }
    val cwarm = churn.drop(1)
    println(f"ledger-churn slope at 100x entries: " +
      f"consult ${cwarm(0)._6 / cwarm(1)._6}%.2fx, " +
      f"record ${cwarm(0)._3 / cwarm(1)._3}%.2fx, " +
      f"readmit ${cwarm(0)._4 / cwarm(1)._4}%.2fx (100x = linear); " +
      f"generations ${cwarm(0)._7} vs ${cwarm(1)._7} (fold-bounded)")
  }
}
