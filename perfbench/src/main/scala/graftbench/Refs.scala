package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Reference results, computed in plain Scala from the generated
  * inputs (the curation reference excepted, see `Curate.reference`),
  * and the checks that compare an iteration's collected output against
  * them. Every check returns a list of problems; an empty list means
  * the output is correct.
  */
object Refs {

  private def hex(algo: String, s: String): String =
    MessageDigest.getInstance(algo).digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  def md5(s: String): String = hex("MD5", s)
  def sha256(s: String): String = hex("SHA-256", s)

  // ---- ETL ------------------------------------------------------------

  /** Greedy word packing, as the reference ETL's `chunk_text`: add
    * words to the current chunk until the next word would push its
    * length (separators not counted) past `maxLen`.
    */
  def pack(text: String, maxLen: Int): Vector[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var len = 0
    text.split(" ").filter(_.nonEmpty).foreach { w =>
      if (len > 0 && len + w.length > maxLen) {
        out += cur.toString; cur.clear(); len = 0
      }
      if (len > 0) cur.append(' ')
      cur.append(w)
      len += w.length
    }
    if (len > 0) out += cur.toString
    out.result()
  }

  /** One stored chunk row. */
  final case class Chunk(srcId: Long, index: Long, id: String, text: String,
    hash: String)

  def chunksOf(srcId: Long, text: String, hash: String,
    maxLen: Int): Vector[Chunk] =
    pack(text, maxLen).zipWithIndex.map { case (c, i) =>
      Chunk(srcId, i.toLong, sha256(s"/docs/$srcId|$hash|$i"), c, hash)
    }

  /** Signature of one source's stored chunks: order-independent in the
    * rows, exact in every field.
    */
  def signature(rows: Seq[Chunk]): String =
    sha256(rows.sortBy(_.index)
      .map(c => s"${c.index}\u0001${c.id}\u0001${c.text}\u0001${c.hash}")
      .mkString("\n"))

  private def blank(t: String): Boolean = t == null || t.trim.isEmpty

  /** The ETL fixture's classes: the manifest holds ids with `id % 10 != 0`
    * (hash of the text, last edit `100 + id % 50`); the current
    * snapshot edits the content of `id % 7 == 0` and touches the edit
    * time of `id % 13 == 0`.
    */
  def manifestHash(d: Gen.Doc): Option[String] =
    if (d.id % 10 != 0) Some(md5(d.text)) else None
  def currentHash(d: Gen.Doc): String =
    if (d.id % 7 == 0) md5(d.text + "edit") else md5(d.text)
  def needsVector(d: Gen.Doc): Boolean =
    d.id % 10 == 0 || d.id % 7 == 0 || d.id % 13 == 0

  final case class Stats(processed: Long, skipped: Long, failed: Long,
    vectorized: Long)

  final case class EtlExpect(store: Map[Long, String], stats: Stats)

  /** Expected store (per-source signature) and run counters after
    * building the store from the manifest and running one incremental
    * pass whose delta is restricted to `filter`.
    */
  def etl(docs: Seq[Gen.Doc], filter: Set[Long], maxLen: Int): EtlExpect = {
    val inDelta = (d: Gen.Doc) => needsVector(d) && filter(d.id)
    val store = Map.newBuilder[Long, String]
    var processed, failed, vectorized = 0L
    docs.foreach { d =>
      val rows =
        if (inDelta(d)) {
          if (blank(d.text)) { failed += 1; Vector.empty }
          else {
            processed += 1
            val c = chunksOf(d.id, d.text, currentHash(d), maxLen)
            vectorized += c.length
            c
          }
        } else manifestHash(d).map(h => chunksOf(d.id, d.text, h, maxLen))
          .getOrElse(Vector.empty)
      if (rows.nonEmpty) store += d.id -> signature(rows)
    }
    val skipped = docs.count(d => !needsVector(d)).toLong
    EtlExpect(store.result(), Stats(processed, skipped, failed, vectorized))
  }

  def checkEtl(expect: EtlExpect, stored: Seq[Chunk], stats: Stats): Seq[String] = {
    val got = stored.groupBy(_.srcId).map { case (k, v) => k -> signature(v) }
    val missing = expect.store.keySet -- got.keySet
    val extra = got.keySet -- expect.store.keySet
    val wrong = expect.store.keySet.intersect(got.keySet)
      .filter(k => expect.store(k) != got(k))
    Seq(
      if (missing.nonEmpty) Some(s"store lacks ${missing.size} sources") else None,
      if (extra.nonEmpty) Some(s"store has ${extra.size} unexpected sources") else None,
      if (wrong.nonEmpty) Some(s"${wrong.size} sources hold wrong chunks") else None,
      if (stats != expect.stats) Some(s"run stats $stats, expected ${expect.stats}")
      else None).flatten
  }

  /** Min-depth breadth-first search from `root`. */
  def bfs(edges: Seq[Gen.Edge], root: Long, maxDepth: Int): Map[Long, Long] = {
    val adj = edges.groupBy(_.src).map { case (k, v) => k -> v.map(_.dst) }
    val depth = scala.collection.mutable.HashMap(root -> 0L)
    var frontier = Vector(root)
    var d = 0L
    while (frontier.nonEmpty && d < maxDepth) {
      d += 1
      val next = frontier.flatMap(adj.getOrElse(_, Nil)).distinct
        .filterNot(depth.contains)
      next.foreach(n => depth(n) = d)
      frontier = next
    }
    depth.toMap
  }

  def checkCrawl(expect: Map[Long, Long], got: Seq[(Long, Long)]): Seq[String] = {
    val m = got.toMap
    Seq(
      if (m.size != got.size) Some("crawl visits a page twice") else None,
      if (m != expect) Some(
        s"crawl reached ${m.size} pages (expected ${expect.size}); " +
          s"${expect.count { case (k, v) => m.get(k).exists(_ != v) }} at wrong depth")
      else None).flatten
  }

  // ---- curation -------------------------------------------------------

  /** Keeper label per doc: `(doc_id, keep_id, is_kept)` rows against the
    * one-shot recompute's labels.
    */
  def checkCurated(expect: Map[Long, Long], got: Seq[(Long, Long, Boolean)]): Seq[String] = {
    val m = got.map(r => r._1 -> r._2).toMap
    val badKept = got.count { case (d, k, kept) => kept != (d == k) }
    val wrong = expect.count { case (d, k) => !m.get(d).contains(k) }
    Seq(
      if (m.size != got.size) Some("curated lists a doc twice") else None,
      if (m.size != expect.size) Some(s"curated has ${m.size} docs, expected ${expect.size}")
      else None,
      if (wrong > 0) Some(s"$wrong docs have a keeper other than the one-shot recompute's")
      else None,
      if (badKept > 0) Some(s"$badKept rows with is_kept inconsistent with keep_id")
      else None).flatten
  }

  // ---- ANN ------------------------------------------------------------

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** Exact top-k corpus ids per query by cosine similarity (ties broken
    * by the lower id).
    */
  def exactTopK(corpus: Seq[Gen.Vec], queries: Seq[Gen.Vec],
    k: Int): Map[Long, Vector[Long]] = {
    val cs = corpus.toArray
    val norms = cs.map(v => math.sqrt(dot(v.emb, v.emb)))
    queries.map { q =>
      val qn = math.sqrt(dot(q.emb, q.emb))
      val scored = cs.indices.map(i => (dot(q.emb, cs(i).emb) / (qn * norms(i)), cs(i).id))
      q.id -> scored.sortBy { case (s, id) => (-s, id) }.take(k).map(_._2).toVector
    }.toMap
  }

  /** Share of the exact top-k the returned ids reproduce, over all
    * queries.
    */
  def recall(exact: Map[Long, Vector[Long]], got: Map[Long, Seq[Long]]): Double = {
    val hits = exact.map { case (q, ids) =>
      ids.toSet.intersect(got.getOrElse(q, Nil).toSet).size }.sum
    hits.toDouble / exact.values.map(_.size).sum
  }

  /** Search rows `(query_id, rank, vec_id, cos_sim)`: each query gets
    * exactly `k` distinct corpus ids ranked 1..k by non-increasing
    * score, and recall against the exact answer stays above `minRecall`.
    */
  def checkSearch(exact: Map[Long, Vector[Long]], corpusIds: Set[Long],
    rows: Seq[(Long, Long, Long, Double)], k: Int,
    minRecall: Double): (Seq[String], Double) = {
    val byQ = rows.groupBy(_._1)
    val malformed = exact.keys.count { q =>
      val rs = byQ.getOrElse(q, Nil).sortBy(_._2)
      rs.map(_._2) != (1 to k).map(_.toLong) ||
      rs.map(_._3).distinct.size != k ||
      !rs.forall(r => corpusIds(r._3)) ||
      rs.sliding(2).exists { case Seq(a, b) => a._4 < b._4; case _ => false }
    }
    val r = recall(exact, byQ.map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3) })
    val problems = Seq(
      if (byQ.keySet != exact.keySet) Some(s"answered ${byQ.size} of ${exact.size} queries")
      else None,
      if (malformed > 0) Some(s"$malformed queries with a malformed top-$k") else None,
      if (r < minRecall) Some(f"recall@$k $r%.3f below $minRecall") else None).flatten
    (problems, r)
  }
}
