package graftbench

import java.util.SplittableRandom

/** Seeded input generator. Every function is a pure function of its
  * arguments: the same seed gives the same inputs, byte for byte, and
  * the library only ever sees what these functions produce.
  */
object Gen {

  final case class Doc(id: Long, text: String)
  final case class Edge(src: Long, dst: Long)
  final case class Vec(id: Long, emb: Array[Float])

  /** Streams are split per purpose so that changing one generator's
    * parameters does not reshuffle the others.
    */
  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "to",
    "vi", "ze", "po", "an", "el", "or", "ul", "ix", "br", "st", "qu")

  /** A vocabulary of distinct pseudo-words, 2 to 4 syllables long. */
  def vocabulary(seed: Long, n: Int): Array[String] = {
    val r = rng(seed, 1)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val k = 2 + r.nextInt(3)
      seen += (0 until k).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
    }
    seen.toArray
  }

  /** Word draw with a skewed (roughly Zipf) frequency: low ranks are
    * common, as in natural text, so chunks and shingles share words.
    */
  private def word(r: SplittableRandom, vocab: Array[String]): String = {
    val u = r.nextDouble()
    vocab(math.min(vocab.length - 1, (vocab.length * u * u * u).toInt))
  }

  private def sentence(r: SplittableRandom, vocab: Array[String],
    words: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < words) {
      if (i > 0) sb.append(' ')
      sb.append(word(r, vocab))
      i += 1
    }
    sb.toString
  }

  /** ETL corpus: ids `0 until n` (the ETL fixture derives the manifest
    * and the current snapshot from the id classes), lengths uniform in
    * `[minWords, maxWords]`, and `blankShare` of the sources blank so
    * the runner's failed-source path is exercised.
    */
  def etlDocs(seed: Long, n: Int, minWords: Int, maxWords: Int,
    blankShare: Double): Vector[Doc] = {
    val vocab = vocabulary(seed, 3000)
    val r = rng(seed, 2)
    Vector.tabulate(n) { i =>
      val blank = r.nextDouble() < blankShare
      val len = minWords + r.nextInt(maxWords - minWords + 1)
      Doc(i.toLong, if (blank) "  " else sentence(r, vocab, len))
    }
  }

  /** Curation corpus with planted duplicates: each doc after the first
    * is, with probability `dupShare`, a copy of an earlier doc (a third
    * of copies exact, the rest with one word replaced or a short tail
    * appended, which keeps word-3-gram Jaccard well above 0.8). Ids are
    * positions, so a copy usually lands in another batch than its
    * original (batches split by `id % batches`).
    */
  def curateDocs(seed: Long, n: Int, minWords: Int, maxWords: Int,
    dupShare: Double): Vector[Doc] = {
    val vocab = vocabulary(seed, 6000)
    val r = rng(seed, 3)
    val out = Vector.newBuilder[Doc]
    val texts = new Array[String](n)
    var i = 0
    while (i < n) {
      texts(i) =
        if (i > 0 && r.nextDouble() < dupShare) {
          val orig = texts(r.nextInt(i))
          r.nextInt(3) match {
            case 0 => orig
            case 1 =>
              val ws = orig.split(" ")
              ws(r.nextInt(ws.length)) = word(r, vocab)
              ws.mkString(" ")
            case _ => orig + " " + sentence(r, vocab, 2)
          }
        } else sentence(r, vocab, minWords + r.nextInt(maxWords - minWords + 1))
      out += Doc(i.toLong, texts(i))
      i += 1
    }
    out.result()
  }

  /** Workspace page graph: a tree of pages under page 0 (each page's
    * parent is an earlier page, so the tree is connected and its depth
    * grows with log n) plus `extraLinks` cross-page mentions per page,
    * biased to nearby ids. No self-links, no duplicate edges.
    */
  def pageGraph(seed: Long, pages: Int, fanout: Int,
    extraLinks: Int): Vector[Edge] = {
    val r = rng(seed, 4)
    val edges = scala.collection.mutable.LinkedHashSet.empty[Edge]
    var p = 1
    while (p < pages) {
      val parent = (p - 1) / fanout - r.nextInt(2)
      edges += Edge(math.max(0, parent).toLong, p.toLong)
      p += 1
    }
    p = 0
    while (p < pages) {
      var k = 0
      while (k < extraLinks) {
        val span = 1 + r.nextInt(math.max(1, pages / 8))
        val dst = ((p + span) % pages).toLong
        if (dst != p) edges += Edge(p.toLong, dst)
        k += 1
      }
      p += 1
    }
    edges.toVector
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller: SplittableRandom has no nextGaussian before JDK 17's
    // RandomGenerator default, and this keeps the stream explicit
    val u1 = math.max(r.nextDouble(), 1e-12)
    val u2 = r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  private def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** Clustered embeddings in two levels: `clusters` random unit
    * centers (what the coarse quantizer should find), each holding
    * groups of `group` vectors around a group center at distance about
    * `spread` from it; members sit about `tight` from their group
    * center. A query near a member then has its exact top-k mostly in
    * one group, which a compressed index can resolve. Ids `0 until n`.
    */
  def embeddings(seed: Long, n: Int, dim: Int, clusters: Int, group: Int,
    spread: Double, tight: Double): Vector[Vec] = {
    val r = rng(seed, 5)
    def around(c: Array[Double], norm: Double): Array[Double] = {
      val sd = norm / math.sqrt(dim)
      unit(Array.tabulate(dim)(j => c(j) + sd * gaussian(r))).map(_.toDouble)
    }
    val centers = Array.fill(clusters)(unit(Array.fill(dim)(gaussian(r))).map(_.toDouble))
    val groups = Array.fill((n + group - 1) / group)(
      around(centers(r.nextInt(clusters)), spread))
    Vector.tabulate(n) { i =>
      Vec(i.toLong, around(groups(i / group), tight).map(_.toFloat))
    }
  }

  /** Queries: perturbed copies of random corpus vectors, ids starting
    * at `idBase` so they never collide with corpus ids.
    */
  def queries(seed: Long, corpus: Vector[Vec], n: Int, noise: Double,
    idBase: Long): Vector[Vec] = {
    val r = rng(seed, 6)
    val dim = corpus.head.emb.length
    val sd = noise / math.sqrt(dim)
    Vector.tabulate(n) { i =>
      val base = corpus(r.nextInt(corpus.length)).emb
      Vec(idBase + i, unit(Array.tabulate(dim)(j => base(j) + sd * gaussian(r))))
    }
  }

  /** A seeded sample of `k` distinct elements, in ascending order. */
  def sample(seed: Long, from: Seq[Long], k: Int): Vector[Long] = {
    val r = rng(seed, 7)
    val a = from.toArray
    var i = 0
    while (i < math.min(k, a.length)) {
      val j = i + r.nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
      i += 1
    }
    a.take(k).sorted.toVector
  }
}
