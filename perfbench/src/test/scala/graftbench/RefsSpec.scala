package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** Each reference check accepts the exact answer and rejects a
  * deliberately perturbed one.
  */
class RefsSpec extends AnyFunSuite {

  test("pack is greedy word packing with separators not counted") {
    assert(Refs.pack("aa bb cc", 4) == Vector("aa bb", "cc"))
    assert(Refs.pack("  aaaaaa b  ", 4) == Vector("aaaaaa", "b"))
    assert(Refs.pack("   ", 4).isEmpty)
  }

  // ---- ETL ------------------------------------------------------------

  private val docs = Gen.etlDocs(5, 120, 10, 60, 0.05)
  private val filter = Gen.sample(5, docs.filter(Refs.needsVector).map(_.id), 6).toSet
  private val expect = Refs.etl(docs, filter, 40)

  /** The store a correct run leaves: manifest chunks, with the filtered
    * delta re-chunked under its current hash.
    */
  private def store(f: Option[Set[Long]]): Seq[Refs.Chunk] = docs.flatMap { d =>
    if (d.text.trim.isEmpty) Nil
    else if (Refs.needsVector(d) && f.forall(_(d.id)))
      Refs.chunksOf(d.id, d.text, Refs.currentHash(d), 40)
    else Refs.manifestHash(d).map(h => Refs.chunksOf(d.id, d.text, h, 40)).getOrElse(Nil)
  }

  test("the ETL check accepts the correct store and counters") {
    assert(Refs.checkEtl(expect, store(Some(filter)), expect.stats).isEmpty)
    assert(expect.stats.processed + expect.stats.failed == 6)
  }

  test("the ETL check rejects a changed chunk text") {
    val s = store(Some(filter))
    val bad = s.updated(3, s(3).copy(text = s(3).text + "x"))
    assert(Refs.checkEtl(expect, bad, expect.stats).exists(_.contains("wrong chunks")))
  }

  test("the ETL check rejects a stale chunk id") {
    val s = store(None)
    assert(Refs.checkEtl(expect, s, expect.stats).exists(_.contains("wrong chunks")))
  }

  test("the ETL check rejects a lost or an extra source") {
    val s = store(Some(filter))
    val lost = s.filterNot(_.srcId == s.head.srcId)
    assert(Refs.checkEtl(expect, lost, expect.stats).exists(_.contains("lacks")))
    val extra = s :+ s.head.copy(srcId = 9999L)
    assert(Refs.checkEtl(expect, extra, expect.stats).exists(_.contains("unexpected")))
  }

  test("the ETL check rejects wrong run counters") {
    val st = expect.stats.copy(skipped = expect.stats.skipped + 1)
    assert(Refs.checkEtl(expect, store(Some(filter)), st).exists(_.contains("run stats")))
  }

  test("the crawl check rejects a wrong depth and a missed page") {
    val edges = Gen.pageGraph(5, 80, 3, 1)
    val bfs = Refs.bfs(edges, 0L, 30)
    val rows = bfs.toSeq
    assert(Refs.checkCrawl(bfs, rows).isEmpty)
    val (deep, _) = rows.maxBy(_._2)
    assert(Refs.checkCrawl(bfs, rows.map { case (n, d) => (n, if (n == deep) d + 1 else d) })
      .nonEmpty)
    assert(Refs.checkCrawl(bfs, rows.filterNot(_._1 == deep)).nonEmpty)
    assert(Refs.checkCrawl(bfs, rows :+ rows.head).nonEmpty)
  }

  // ---- curation -------------------------------------------------------

  private val keep = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L)
  private def rows(m: Map[Long, Long]) = m.toSeq.map { case (d, k) => (d, k, d == k) }

  test("the curation check accepts the one-shot labels") {
    assert(Refs.checkCurated(keep, rows(keep)).isEmpty)
  }

  test("the curation check rejects a wrong keeper, a lost doc and a bad flag") {
    assert(Refs.checkCurated(keep, rows(keep.updated(4L, 4L))).nonEmpty)
    assert(Refs.checkCurated(keep, rows(keep - 5L)).nonEmpty)
    val flagged = rows(keep).map { case (d, k, kept) => (d, k, if (d == 2L) true else kept) }
    assert(Refs.checkCurated(keep, flagged).nonEmpty)
  }

  // ---- ANN ------------------------------------------------------------

  private val corpus = Gen.embeddings(5, 300, 8, 3, 10, 0.8, 0.1)
  private val queries = Gen.queries(5, corpus, 6, 0.1, 1000)
  private val exact = Refs.exactTopK(corpus, queries, 10)
  private val ids = corpus.map(_.id).toSet

  private def answer(top: Map[Long, Vector[Long]]) = top.toSeq.flatMap { case (q, vs) =>
    vs.zipWithIndex.map { case (v, i) => (q, i + 1L, v, 1.0 - i * 0.01) }
  }

  test("the search check accepts the exact answer with recall 1") {
    val (problems, recall) = Refs.checkSearch(exact, ids, answer(exact), 10, 0.5)
    assert(problems.isEmpty && recall == 1.0)
  }

  test("the search check rejects wrong neighbours, a malformed top-k and a lost query") {
    val far = exact.map { case (q, vs) => q -> (ids -- vs).toVector.sorted.take(10) }
    val (p1, r1) = Refs.checkSearch(exact, ids, answer(far), 10, 0.5)
    assert(r1 == 0.0 && p1.exists(_.contains("recall")))
    val dup = answer(exact).map { case (q, r, v, s) => (q, r, if (r == 2L) exact(q).head else v, s) }
    assert(Refs.checkSearch(exact, ids, dup, 10, 0.5)._1.exists(_.contains("malformed")))
    val unsorted = answer(exact).map { case (q, r, v, s) => (q, r, v, if (r == 5L) 2.0 else s) }
    assert(Refs.checkSearch(exact, ids, unsorted, 10, 0.5)._1.exists(_.contains("malformed")))
    val lost = answer(exact).filterNot(_._1 == queries.head.id)
    assert(Refs.checkSearch(exact, ids, lost, 10, 0.5)._1.exists(_.contains("answered")))
  }
}
