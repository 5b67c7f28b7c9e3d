package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def embs(v: Seq[Gen.Vec]) = v.map(x => (x.id, x.emb.toSeq))

  test("every generator is identical for one seed") {
    assert(Gen.etlDocs(7, 50, 5, 40, 0.1) == Gen.etlDocs(7, 50, 5, 40, 0.1))
    assert(Gen.curateDocs(7, 50, 5, 40, 0.3) == Gen.curateDocs(7, 50, 5, 40, 0.3))
    assert(Gen.pageGraph(7, 100, 4, 2) == Gen.pageGraph(7, 100, 4, 2))
    val e = Gen.embeddings(7, 60, 8, 4, 5, 0.8, 0.1)
    assert(embs(e) == embs(Gen.embeddings(7, 60, 8, 4, 5, 0.8, 0.1)))
    assert(embs(Gen.queries(7, e, 5, 0.1, 1000)) == embs(Gen.queries(7, e, 5, 0.1, 1000)))
    assert(Gen.sample(7, 0L until 100L, 5) == Gen.sample(7, 0L until 100L, 5))
  }

  test("every generator differs across seeds") {
    assert(Gen.etlDocs(7, 50, 5, 40, 0.1) != Gen.etlDocs(8, 50, 5, 40, 0.1))
    assert(Gen.curateDocs(7, 50, 5, 40, 0.3) != Gen.curateDocs(8, 50, 5, 40, 0.3))
    assert(Gen.pageGraph(7, 100, 4, 2) != Gen.pageGraph(8, 100, 4, 2))
    val e = Gen.embeddings(7, 60, 8, 4, 5, 0.8, 0.1)
    assert(embs(e) != embs(Gen.embeddings(8, 60, 8, 4, 5, 0.8, 0.1)))
    assert(embs(Gen.queries(7, e, 5, 0.1, 1000)) != embs(Gen.queries(8, e, 5, 0.1, 1000)))
    assert(Gen.sample(7, 0L until 100L, 5) != Gen.sample(8, 0L until 100L, 5))
  }

  test("ETL docs have the requested ids, lengths and blank sources") {
    val docs = Gen.etlDocs(3, 400, 5, 40, 0.1)
    assert(docs.map(_.id) == (0L until 400L))
    val (blank, text) = docs.partition(_.text.trim.isEmpty)
    assert(blank.size > 10 && blank.size < 80)
    assert(text.forall(d => (5 to 40).contains(d.text.split(" ").length)))
  }

  test("curation docs carry planted duplicates") {
    val docs = Gen.curateDocs(3, 500, 20, 40, 0.3)
    val exact = docs.size - docs.map(_.text).distinct.size
    assert(exact > 20, "a third of the copies are exact")
    assert(exact < 150)
  }

  test("the page graph is connected from page 0, without self-links") {
    val edges = Gen.pageGraph(3, 300, 4, 2)
    assert(edges.forall(e => e.src != e.dst))
    assert(edges.distinct.size == edges.size)
    assert(Refs.bfs(edges, 0L, 1000).size == 300)
  }

  test("embeddings are unit vectors and queries get their own ids") {
    val e = Gen.embeddings(3, 40, 8, 2, 10, 0.8, 0.1)
    assert(e.forall(v => math.abs(v.emb.map(x => x * x).sum - 1.0) < 1e-4))
    assert(Gen.queries(3, e, 4, 0.1, 1000).map(_.id) == (1000L until 1004L))
  }

  test("sample draws k distinct elements of the input") {
    val s = Gen.sample(3, 10L until 30L, 6)
    assert(s.size == 6 && s.distinct == s && s.forall(x => x >= 10 && x < 30))
  }
}
