package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextExpressions, VectorExpressions}
import graft.operators.{DedupQueries, GraphOps, Params, SimilarityQueries}

/** Seeded corpus with planted duplicate groups, and seeded clustered
  * embeddings with query vectors, plus their ground truth. */
final case class Corpus(docs: Vector[(Long, String)], groups: Vector[Vector[Long]],
                        exactGroups: Int, vectors: Vector[(Long, Array[Float])],
                        queries: Vector[(Long, Array[Float])]) {
  /** Every pair of documents planted in one group, (smaller, larger). */
  lazy val plantedPairs: Set[(Long, Long)] = groups.flatMap(g =>
    for (a <- g; b <- g if a < b) yield (a, b)).toSet

  /** Brute-force top 10 by cosine (ties by id), in the benchmark's own code. */
  lazy val truthTop10: Map[Long, Vector[Long]] = queries.map { case (q, qv) =>
    q -> vectors.map { case (id, v) => (id, Corpus.cosine(qv, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1)
  }.toMap
}

object Corpus {
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
  def cosine(q: Array[Float], v: Array[Float]): Double =
    dot(q, v) / (math.sqrt(dot(q, q)) * math.sqrt(dot(v, v)))

  def generate(seed: Long, baseDocs: Int, exactGroups: Int, nearGroups: Int,
               vectors: Int, queries: Int, dim: Int, clusters: Int): Corpus = {
    val r = Model.rng(seed, 60)
    val vocab = Vector.tabulate(4000)(i => Iterator.continually(('a' + r.nextInt(26)).toChar)
      .take(4 + r.nextInt(5)).mkString + ('a' + i % 26).toChar + ('a' + i / 26 % 26).toChar +
      ('a' + i / 676).toChar)
    val base = Vector.fill(baseDocs)(Vector.fill(40 + r.nextInt(21))(vocab(r.nextInt(vocab.size))))
    val picked = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle(base.indices.toVector).take(exactGroups + nearGroups)
    // exact groups hold 2-3 copies, near groups 2 (one substituted word):
    // every planted group is a clique or a single edge, so connected
    // components converge in the same number of passes for every seed
    val copies = picked.zipWithIndex.map { case (b, gi) =>
      if (gi < exactGroups) Vector.fill(1 + r.nextInt(2))(base(b))
      else Vector(base(b).updated(r.nextInt(base(b).size), vocab(r.nextInt(vocab.size))))
    }
    val texts = base ++ copies.flatten
    val ids = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle(texts.indices.toVector).map(_.toLong)
    var next = base.size
    val groups = picked.zip(copies).map { case (b, cs) =>
      val g = ids(b) +: cs.indices.map(j => ids(next + j)).toVector
      next += cs.size
      g
    }
    val centers = Vector.fill(clusters)(Array.fill(dim)(r.nextGaussian().toFloat))
    def around(): Array[Float] = {
      val c = centers(r.nextInt(clusters))
      c.map(x => (x + 0.45 * r.nextGaussian()).toFloat)
    }
    Corpus(texts.indices.map(i => (ids(i), texts(i).mkString(" "))).toVector, groups,
      exactGroups, Vector.tabulate(vectors)(i => (i.toLong, around())),
      Vector.tabulate(queries)(i => (i.toLong, around())))
  }
}

/** `dedup_ann`: one op is one MinHash dedup pass (signatures, LSH pairs,
  * connected components, one kept document per component) and one IVF
  * vector search pass (k-medians training, probed cells, `vector_dot`
  * rerank to top 10) over parquet inputs written at set-up. */
final class DedupAnn(ctx: Ctx) extends Workload(ctx) {
  val name = "dedup_ann"
  val k = 8
  val iters = 2
  val nprobe = 2
  val top = 10
  // the first op compiles most of the path; the second finishes the JIT
  override def warmOps: Int = 1

  private var corpus: Corpus = _
  private var docsPath, vecPath, qPath: String = _
  @volatile private var last: (Double, Double, Double) = (0, 0, 0) // pair recall, precision, ann recall

  override def prepare(): Unit = {
    corpus = Corpus.generate(ctx.seed, baseDocs = 400, exactGroups = 25, nearGroups = 25,
      vectors = 1500, queries = 30, dim = 16, clusters = 8)
    corpus.truthTop10
  }

  def setup(rep: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    docsPath = ctx.dir(s"dedup-$rep/docs"); vecPath = ctx.dir(s"dedup-$rep/vectors")
    qPath = ctx.dir(s"dedup-$rep/queries")
    corpus.docs.toDF("doc_id", "text").repartition(Main.Cores).write.parquet(docsPath)
    corpus.vectors.map { case (i, v) => (i, v) }.toDF("vec_id", "embedding").repartition(Main.Cores)
      .write.parquet(vecPath)
    corpus.queries.toDF("q_id", "embedding").write.parquet(qPath)
  }

  private def vectorsOf(path: String, id: String, v: String, n: String): DataFrame =
    ctx.spark.read.parquet(path)
      .select(col(id), transform(col("embedding"), _.cast("double")).as(v))
      .withColumn(n, sqrt(VectorExpressions.vector_dot(col(v), col(v))))

  def op(client: Int, seq: Long): OpResult = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val t0 = System.nanoTime()
    // dedup
    val docs = spark.read.parquet(docsPath)
    val sigs = tr.span("operators", "minhashSignatures")(DedupQueries.minhashSignatures(docs))
    val pairs = tr.span("operators", "minhashPairs")(DedupQueries.minhashPairs(sigs))
    val cc = tr.span("operators", "connectedComponents")(GraphOps.connectedComponents(pairs, "a", "b"))
    val comps = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one kept document per component: drop every member that is not
    // its component's label
    val kept = docs.join(cc.filter(col("id") =!= col("component")),
      docs("doc_id") === cc("id"), "left_anti").count()
    sigs.unpersist()
    // vector search
    val e = vectorsOf(vecPath, "vec_id", "v", "nrm")
    val (assigned, cent) = tr.span("operators", "kmediansCells")(SimilarityQueries.kmediansCells(e, k, iters))
    val q = vectorsOf(qPath, "q_id", "qv", "qn")
    val probed = tr.span("operators", "probedCells")(SimilarityQueries.probedCells(q, cent, nprobe))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    val hits = tr.span("functions", "vector_dot_rerank")(
      probed.join(assigned, "cell")
        .select(col("q_id"), col("vec_id"),
          (VectorExpressions.vector_dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= top)
        .collect().toVector.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))))
    val lat = System.nanoTime() - t0
    OpResult(lat, 0L, () => {
      val errs = DedupAnn.check(corpus, comps, kept, hits)
      last = (DedupAnn.pairRecall(corpus, comps), DedupAnn.pairPrecision(corpus, comps),
        DedupAnn.annRecall(corpus, hits))
      if (errs.isEmpty) None else Some(errs.mkString("; "))
    })
  }

  override def e2eExtras(): Seq[Metric] = Seq(
    Metric("dedup_pair_recall", last._1, "ratio"),
    Metric("dedup_pair_precision", last._2, "ratio"),
    Metric("ann_recall_at_10", last._3, "ratio"))

  override def layerMetrics(traced: LoopStats): Seq[Metric] = {
    val spark = ctx.spark
    def ms(body: => Unit): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    })
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val docs = spark.read.parquet(docsPath).cache()
    docs.count()
    val sigsMs = ms(noop(DedupQueries.minhashSignatures(docs)))
    val sigs = DedupQueries.minhashSignatures(docs).cache()
    sigs.count()
    val pairsMs = ms(noop(DedupQueries.minhashPairs(sigs)))
    val pairs = DedupQueries.minhashPairs(sigs).cache()
    val cand = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    var passes = 0
    val ccMs = ms(GraphOps.connectedComponents(pairs, "a", "b",
      onConverged = (p, _) => passes = p).count())
    val e = vectorsOf(vecPath, "vec_id", "v", "nrm").cache()
    e.count()
    var lastCells: (DataFrame, DataFrame) = null
    val kmMs = ms { lastCells = SimilarityQueries.kmediansCells(e, k, iters) }
    val (assigned, cent) = lastCells
    val q = vectorsOf(qPath, "q_id", "qv", "qn").cache()
    q.count()
    val candidates = SimilarityQueries.probedCells(q, cent, nprobe).join(assigned, "cell")
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    val searchMs = ms(candidates.select(col("q_id"), col("vec_id"),
      (VectorExpressions.vector_dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= top).collect())
    val nCand = candidates.count()
    // each expression alone in a projection over a cached relation
    val reps = 20
    val bigDocs = docs.crossJoin(spark.range(reps).toDF("rep")).cache()
    val nDocs = bigDocs.count()
    val bigVec = e.crossJoin(spark.range(reps).toDF("rep")).cache()
    val nVec = bigVec.count()
    val perms = Params.MinHashPerms
    val sigExpr = TextExpressions.minhash_signature(col("text"), Params.ShingleN,
      (0 until perms).map(Params.minHashA), (0 until perms).map(Params.minHashB), Params.MinHashP)
    val sigRate = nDocs / (ms(noop(bigDocs.select(sigExpr))) / 1e3)
    val tokRate = nDocs / (ms(noop(bigDocs.select(TextExpressions.min_tokens(col("text"), Params.ShingleN)))) / 1e3)
    val dotRate = nVec / (ms(noop(bigVec.select(VectorExpressions.vector_dot(col("v"), col("v"))))) / 1e3)
    Seq(bigDocs, bigVec, docs, sigs, pairs, e, q).foreach(_.unpersist())
    val planted = corpus.plantedPairs
    Seq(
      Metric("operators.minhash_signatures_ms", sigsMs, "ms"),
      Metric("operators.minhash_pairs_ms", pairsMs, "ms"),
      Metric("operators.candidate_pairs", cand.length.toDouble, "count"),
      Metric("operators.candidate_precision",
        if (cand.isEmpty) 0.0 else cand.count(planted.contains).toDouble / cand.length, "ratio"),
      Metric("operators.cc_ms", ccMs, "ms"),
      Metric("operators.cc_passes", passes.toDouble, "count"),
      Metric("operators.kmedians_ms", kmMs, "ms"),
      Metric("operators.ann_search_ms", searchMs, "ms"),
      Metric("operators.ann_candidates_per_query", nCand.toDouble / corpus.queries.size, "count"),
      Metric("functions.minhash_signature_rows_per_s", sigRate, "rows/s"),
      Metric("functions.min_tokens_rows_per_s", tokRate, "rows/s"),
      Metric("functions.vector_dot_rows_per_s", dotRate, "rows/s"))
  }
}

object DedupAnn {
  /** Pairs of documents that landed in one component. */
  def foundPairs(comps: Map[Long, Long]): Set[(Long, Long)] =
    comps.toVector.groupBy(_._2).values.flatMap { m =>
      val ids = m.map(_._1).sorted
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet

  def pairRecall(c: Corpus, comps: Map[Long, Long]): Double = {
    val found = foundPairs(comps)
    c.plantedPairs.count(found.contains).toDouble / math.max(1, c.plantedPairs.size)
  }

  def pairPrecision(c: Corpus, comps: Map[Long, Long]): Double = {
    val found = foundPairs(comps)
    if (found.isEmpty) 1.0 else found.count(c.plantedPairs.contains).toDouble / found.size
  }

  def annRecall(c: Corpus, hits: Seq[(Long, Long, Double, Int)]): Double = {
    val got = hits.groupBy(_._1).map { case (q, hs) => q -> hs.map(_._2).toSet }
    c.truthTop10.map { case (q, t) => t.count(got.getOrElse(q, Set.empty).contains) }.sum.toDouble /
      (10.0 * c.truthTop10.size)
  }

  /** Every check a dedup and search answer must pass. Thresholds on the
    * quality ratios sit well below what the generator's planting gives. */
  def check(c: Corpus, comps: Map[Long, Long], kept: Long,
            hits: Seq[(Long, Long, Double, Int)]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    c.groups.take(c.exactGroups).foreach { g =>
      if (g.map(comps.get).distinct.size != 1 || comps.get(g.head).isEmpty)
        errs += s"exact duplicates ${g.mkString(",")} not in one component"
    }
    val expectKept = c.docs.size - (comps.size - comps.values.toSet.size)
    if (kept != expectKept) errs += s"kept $kept documents, components imply $expectKept"
    val rec = pairRecall(c, comps)
    val prec = pairPrecision(c, comps)
    if (rec < 0.9) errs += f"dedup pair recall $rec%.3f < 0.9"
    if (prec < 0.9) errs += f"dedup pair precision $prec%.3f < 0.9"
    val vecs = c.vectors.toMap
    val qs = c.queries.toMap
    hits.groupBy(_._1).foreach { case (q, hs) =>
      val sorted = hs.sortBy(_._4)
      if (sorted.map(_._4) != (1 to sorted.size)) errs += s"query $q ranks ${sorted.map(_._4)}"
      sorted.foreach { case (_, id, sim, _) =>
        val want = Corpus.cosine(qs(q), vecs(id))
        if (math.abs(sim - want) > 1e-9 * math.max(1.0, math.abs(want)))
          errs += s"query $q: score of $id is $sim, cosine is $want"
      }
      if (sorted.sliding(2).exists { case Seq(a, b) => a._3 < b._3; case _ => false })
        errs += s"query $q: scores not descending"
    }
    if (hits.map(_._1).distinct.size != c.queries.size)
      errs += s"${hits.map(_._1).distinct.size} of ${c.queries.size} queries answered"
    val ann = annRecall(c, hits)
    if (ann < 0.8) errs += f"ann recall@10 $ann%.3f < 0.8"
    errs.result()
  }
}
