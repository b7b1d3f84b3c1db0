package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Development probes for the iterative operators and the sf1 corpus,
  * kept in test sources (they ship nothing). Run one with
  * `sbt "Test/runMain graft.DevProbes <probe> [args]"`:
  *  - `kmeans [sfDir]`: k-medians Lloyd-loop checkpoint disciplines;
  *  - `cc [sfDir]`: connected-components pass counts and wall time;
  *  - `loopplans [sfDir] [outDir]`: the loop bodies' physical plans;
  *  - `sf1build [src] [dst]`: the 10x corpus for `graft.Bench`.
  * Readings from earlier runs are recorded in NOTES.md and
  * OPTIMIZATION_r19.md. */
object DevProbes {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try args.headOption match {
      case Some("kmeans") =>
        kmeansProbe(spark, args.lift(1).getOrElse("/root/testdata/sf0.1"))
      case Some("cc") =>
        ccProbe(spark, args.lift(1).getOrElse("/root/testdata/sf0.1"))
      case Some("loopplans") =>
        loopPlans(spark, args.lift(1).getOrElse("/root/testdata/sf0.001"),
          args.lift(2).getOrElse("plans/r19"))
      case Some("sf1build") =>
        sf1Build(spark, args.lift(1).getOrElse("/root/testdata/sf0.1"),
          args.lift(2).getOrElse("/tmp/graft-sf1"))
      case other => throw new IllegalArgumentException(
        s"unknown probe ${other.getOrElse("(none)")}: want kmeans, cc, loopplans or sf1build")
    } finally spark.stop()
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
        // onConverged's count leaves out the init pass fused with the
        // first propagation; +1 keeps readings comparable with the
        // pre-fusion loop's (OPTIMIZATION_r19.md §2)
        onConverged = (p, j) => println(f"  rep $rep passes=${p + 1} " +
          f"(incl. fused init) jump=$j ${(System.nanoTime() - t0) / 1e9}%6.2fs"))
        .write.format("noop").mode("overwrite").save()
    }
    edges.unpersist()
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
    * `Test/runMain graft.DevProbes sf1build [src] [dst]`, then point Bench at
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
}
