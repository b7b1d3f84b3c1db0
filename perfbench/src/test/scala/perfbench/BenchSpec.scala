package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.sstable.{Column, SSTableReader, SSTableRow}
import Model._

/** The benchmark's own guarantees: inputs are a pure function of the
  * seed, and every checker rejects a wrong answer. Spark-free. */
class BenchSpec extends AnyFunSuite {

  private def withDir[T](body: Path => T): T = {
    val d = Files.createTempDirectory("perfbench-spec")
    try body(d) finally Main.deleteRecursive(d)
  }

  private def ctx(seed: Long, dir: Path) = new Ctx(seed, dir, new Tracer(false))

  /** SHA-256 over every generated input of every workload. */
  private def inputsDigest(seed: Long): String = withDir { d =>
    val md = MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update(s.getBytes(UTF_8))
    def version(v: Version): Unit = {
      put(s"${v.key}|${v.mfda}|${v.ldt}")
      v.cells.foreach { c =>
        put(s"${c.name}|${c.state}|${c.ts}|${c.ttlSecs}|${c.expiresMillis}")
        if (c.value != null) md.update(c.value)
      }
    }
    val scan = new ScanMerge(ctx(seed, d))
    for (g <- 0 until scan.writes; i <- 0 until scan.table.keys)
      Model.wideVersion(scan.table, seed, g, i).foreach(version)
    (0 until scan.table.keys).foreach(i => Model.deleteVersion(scan.table, seed, scan.deleteShare, i).foreach(version))
    val lookup = new LookupServe(ctx(seed, d))
    lookup.prepare()
    for (c <- 0 until 4; s <- 0 until 500) put(lookup.probe(c, s).toString)
    val stream = new IngestStream(seed)
    (stream.base() +: Vector.fill(60)(stream.next())).foreach { s =>
      put(s.getClass.getSimpleName)
      s match { case Delete(ks) => ks.foreach(put); case _ => }
      s.rows.foreach { case (k, cs) => put(k); cs.foreach { case (n, v) => put(n); md.update(v) } }
    }
    val corpus = Corpus.generate(seed, 200, 10, 10, 300, 10, 8, 4)
    corpus.docs.foreach { case (i, t) => put(s"$i $t") }
    (corpus.vectors ++ corpus.queries).foreach { case (i, v) => put(s"$i ${v.mkString(",")}") }
    md.digest().map(b => f"$b%02x").mkString
  }

  test("the same seed gives byte-identical inputs; another seed gives other inputs") {
    val a = inputsDigest(7)
    assert(a == inputsDigest(7))
    assert(a != inputsDigest(8))
  }

  test("the same seed writes byte-identical table files") {
    withDir { d =>
      val w = new LookupServe(ctx(3, d))
      val t = w.table.copy(keys = 2000, generations = 3)
      w.writeTable(t, d.resolve("a").toString, 3)
      w.writeTable(t, d.resolve("b").toString, 3)
      w.writeTable(t, d.resolve("c").toString, 4)
      def bytes(dir: String) = Files.list(d.resolve(dir)).toArray.map(_.asInstanceOf[Path])
        .sortBy(_.getFileName.toString).map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toSeq
      assert(bytes("a") == bytes("b"))
      assert(bytes("a") != bytes("c"))
    }
  }

  test("the lookup checker accepts the engine's reconciled rows and rejects corrupted ones") {
    withDir { d =>
      val w = new LookupServe(ctx(5, d))
      val t = w.table.copy(keys = 3000, generations = 4)
      val dir = d.resolve("t").toString
      w.writeTable(t, dir, 5)
      var checked = 0
      for (i <- 0 until t.keys) {
        val vs = (0 until t.generations).flatMap(g => Model.wideVersion(t, 5, g, i))
        val want = if (vs.isEmpty) 0L else digest(reconcile(vs)) | 1L
        val got = SSTableReader.get(dir, t.key(i).getBytes(UTF_8))
        assert(LookupServe.check(t.key(i), got, want).isEmpty, s"key ${t.key(i)}")
        got.filter(_.columns.exists(_.isInstanceOf[Column.Normal])).foreach { row =>
          val bad = row.copy(columns = row.columns.map {
            case c: Column.Normal => c.copy(value = c.value :+ 'x'.toByte)
            case c => c
          })
          assert(LookupServe.check(t.key(i), Some(bad), want).isDefined)
          assert(LookupServe.check(t.key(i), Some(row.copy(tombstone = None)), want).isDefined ||
            row.tombstone.isEmpty)
          checked += 1
        }
      }
      assert(checked > 1000)
      val absent = t.key(1) + "x"
      assert(LookupServe.check(absent, None, 0L).isEmpty)
      assert(LookupServe.check(absent, Some(SSTableRow(absent.getBytes(UTF_8), Nil)), 0L).isDefined)
    }
  }

  test("the scan checker rejects a corrupted summary or cell count") {
    val s = Summary(10, 40, 12345, 3, 1)
    assert(ScanMerge.check("q", s, s).isEmpty)
    assert(ScanMerge.check("q", s.copy(tsSum = 12346), s).isDefined)
    assert(ScanMerge.check("q", s.copy(rows = 9), s).isDefined)
    val cells = Map("c00" -> (4L, 100L))
    assert(ScanMerge.check("q", cells, cells).isEmpty)
    assert(ScanMerge.check("q", Map("c00" -> (4L, 101L)), cells).isDefined)
  }

  test("the model applies row tombstones, time travel and pending deletes") {
    val c = (n: String, ts: Long) => Cell(n, Normal, Array[Byte]('v'), ts)
    val a = Version("k", Vector(c("a", 10), c("b", 30)))
    val b = Version("k", Vector(c("a", 20)), mfda = 15, ldt = 1)
    val m = reconcile(Seq(a, b))
    assert(m.cells.map(x => (x.name, x.ts)) == Vector(("a", 20L), ("b", 30L)))
    assert(m.mfda == 15)
    assert(asOf(b, 14).isEmpty)
    assert(asOf(b, 15).map(_.cells).contains(Vector.empty))
    assert(shadowed(a, 30).isEmpty)
    assert(shadowed(a, 20).map(_.cells.map(_.name)).contains(Vector("b")))
  }

  test("the ingest checker rejects a missing key, an extra key and a changed value") {
    val want = Map("u1" -> Vector(("c00", Normal, "x")), "u2" -> Vector(("c01", Normal, "y")))
    assert(IngestCompact.diff(want, want).isEmpty)
    assert(IngestCompact.diff(want - "u2", want).isDefined)
    assert(IngestCompact.diff(want + ("u3" -> Vector()), want).isDefined)
    assert(IngestCompact.diff(want.updated("u1", Vector(("c00", Normal, "z"))), want).isDefined)
  }

  test("the dedup and search checker accepts the truth and rejects corrupted answers") {
    val corpus = Corpus.generate(11, 200, 10, 10, 400, 12, 8, 4)
    val comps = corpus.groups.flatMap(g => g.map(_ -> g.min)).toMap
    val kept = corpus.docs.size - (comps.size - comps.values.toSet.size)
    val vec = corpus.vectors.toMap
    val q = corpus.queries.toMap
    val hits = corpus.truthTop10.toSeq.flatMap { case (qi, ids) =>
      ids.zipWithIndex.map { case (id, r) => (qi, id, Corpus.cosine(q(qi), vec(id)), r + 1) }
    }
    assert(DedupAnn.check(corpus, comps, kept, hits).isEmpty)
    assert(DedupAnn.pairRecall(corpus, comps) == 1.0)
    assert(DedupAnn.annRecall(corpus, hits) == 1.0)
    // an exact duplicate left in its own component
    val g = corpus.groups.head
    val split = comps.updated(g.last, g.last)
    assert(DedupAnn.check(corpus, split, kept + 1, hits).exists(_.contains("exact duplicates")))
    // a wrong score
    val badScore = hits.updated(0, hits.head.copy(_3 = hits.head._3 + 0.01))
    assert(DedupAnn.check(corpus, comps, kept, badScore).nonEmpty)
    // half the results replaced by far vectors (recall drops below the bar)
    val far = corpus.vectors.map(_._1).filterNot(id => corpus.truthTop10.values.exists(_.contains(id)))
    val worse = hits.map { case h @ (qi, _, _, r) =>
      if (r > 4) { val id = far((qi.toInt * 10 + r) % far.size); (qi, id, Corpus.cosine(q(qi), vec(id)), r) } else h
    }
    assert(DedupAnn.check(corpus, comps, kept, worse).nonEmpty)
    // a kept count that does not match the components
    assert(DedupAnn.check(corpus, comps, kept - 1, hits).exists(_.contains("kept")))
  }
}
