package graft.operators

import graft.Tables
import graft.functions.{Md5Buckets, TextSim}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-level distributional statistics: word-association (PMI) and
  * corpus-drift (Jensen–Shannon divergence between slices) — the
  * monitoring layer of a training-data pipeline (is this week's crawl
  * the same distribution as last week's? which word pairs are
  * collocations the tokenizer should keep intact?).
  *
  * Scale shapes, both: one explode → one partial-agg groupBy to a
  * vocabulary/bucket-bounded frame; nothing downstream of the count
  * tables touches the corpus again. The corpus never shuffles on
  * doc_id.
  */
object CorpusStats {

  val PmiMinCount = 5

  /** q_pmi — pointwise mutual information of adjacent word pairs (the
    * collocation table: "new york" scores high because its joint count
    * beats the unigram-independence prediction). Counts: unigram
    * occurrences c(w) over all tokens (total T), adjacent-pair counts
    * c(a,b) over all bigram positions (total n). PMI = ln(c(ab)·T²/
    * (n·c(a)·c(b))); NPMI normalizes by −ln(c(ab)/n) into [−1, 1].
    * Pairs below [[PmiMinCount]] are cut (their PMI estimate is noise
    * and the cut bounds the output).
    *
    * Scale: pair counts are explode → partial-agg groupBy (map-side
    * combine collapses repeats before the shuffle); the two unigram
    * joins key the PAIR table on a then b — the unigram side is
    * |vocab|-sized, co-partitioned on its term key at 100 TB. Totals
    * ride a 1-row broadcast (the bm25-stats pattern). ln in double,
    * r6-rounded on both engines (the bm25 precedent).
    */
  def pmiQuery(s: SparkSession, d: String): DataFrame =
    pmi(Tables.documents(s, d)).orderBy(col("a"), col("b"))

  /** Frame-based [[pmiQuery]] over any `(doc_id, text)` corpus. */
  def pmi(docs: DataFrame): DataFrame = {
    val toks = docs.select(TextSim.tokens(col("text")).as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val pairs = toks.filter(size(col("t")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("t")) - 1), i =>
        struct(element_at(col("t"), i).as("a"),
          element_at(col("t"), i + 1).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= PmiMinCount)
    // totals: T tokens, n bigram positions — 1-row frame, broadcast
    val totals = uni.agg(sum(col("c")).as("t_uni")).crossJoin(
      toks.filter(size(col("t")) >= 2)
        .agg(sum(size(col("t")) - 1).cast("long").as("t_pair")))
    val joined = pairs
      .join(uni.select(col("w").as("a"), col("c").as("ca")), Seq("a"))
      .join(uni.select(col("w").as("b"), col("c").as("cb")), Seq("b"))
      .crossJoin(broadcast(totals))
    val pmiCol = log(col("n_ab") * col("t_uni") * col("t_uni") /
      (col("t_pair") * col("ca") * col("cb")))
    joined.select(col("a"), col("b"), col("n_ab"),
      TextSim.r6(pmiCol).as("pmi"),
      TextSim.r6(pmiCol / -log(col("n_ab") / col("t_pair"))).as("npmi"))
  }

  val pmiSql: String =
    s"""WITH toks AS (
       |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
       |  FROM documents
       |), uni AS (
       |  SELECT w, count(*)::BIGINT AS c
       |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
       |), pairs AS (
       |  SELECT a, b, count(*)::BIGINT AS n_ab FROM (
       |    SELECT t[i] AS a, t[i+1] AS b
       |    FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)
       |  ) GROUP BY a, b
       |  HAVING count(*) >= $PmiMinCount
       |), totals AS (
       |  SELECT (SELECT sum(c)::BIGINT FROM uni) AS t_uni,
       |         (SELECT sum(len(t) - 1)::BIGINT FROM toks WHERE len(t) >= 2) AS t_pair
       |)
       |SELECT a, b, n_ab,
       |       ${TextSim.r6Sql("ln((n_ab * t_uni * t_uni)::DOUBLE / (t_pair * ca * cb)::DOUBLE)")} AS pmi,
       |       ${TextSim.r6Sql("ln((n_ab * t_uni * t_uni)::DOUBLE / (t_pair * ca * cb)::DOUBLE) / -ln(n_ab::DOUBLE / t_pair::DOUBLE)")} AS npmi
       |FROM pairs
       |JOIN (SELECT w AS a, c AS ca FROM uni) USING (a)
       |JOIN (SELECT w AS b, c AS cb FROM uni) USING (b)
       |CROSS JOIN totals
       |ORDER BY a, b""".stripMargin

  /** Skip-gram window radius and report floor. */
  val SkipWindow = 2
  val SkipMinCount = 5

  /** q_skipgram — windowed co-occurrence counts (center, context,
    * |offset| ≤ [[SkipWindow]], directed): the sufficient statistic of
    * every count-based embedding recipe (word2vec negative-sampling
    * targets, GloVe's X matrix, PPMI-SVD vectors) and the widened
    * sibling of `q_pmi`'s adjacent bigrams — co-occurrence at
    * distance 2 sees the "new york ⟷ city" association that
    * adjacency misses. Counts are exact BIGINTs; the report floor
    * keeps the output association-sized (the PMI cut rule). Directed
    * (each window pair emits both orientations), so row (c, x) is
    * exactly word2vec's center→context pair frequency and the matrix
    * is symmetric — symmetry asserted in CorpusStatsSpec along with a
    * sequential recount.
    *
    * Scale: one explode (≤ 2·[[SkipWindow]]·tokens rows per doc, bare
    * string pairs) into ONE partial-agg groupBy — map-side combine
    * collapses repeats before the shuffle; nothing else touches the
    * corpus. At 100 TB the pair key is the natural bucketing for the
    * downstream trainer's co-occurrence shards.
    */
  def skipgram(docs: DataFrame): DataFrame = {
    val toks = docs.select(TextSim.tokens(col("text")).as("t"))
    val pairStructs = transform(sequence(lit(1), lit(SkipWindow)), d =>
      when(size(col("t")) > d,
        flatten(transform(sequence(lit(1), size(col("t")) - d), i =>
          array(
            struct(element_at(col("t"), i).as("c"),
              element_at(col("t"), i + d).as("x")),
            struct(element_at(col("t"), i + d).as("c"),
              element_at(col("t"), i).as("x"))))))
        .otherwise(array().cast("array<struct<c:string,x:string>>")))
    toks.filter(size(col("t")) >= 2)
      .select(explode(flatten(pairStructs)).as("p"))
      .select(col("p.c").as("center"), col("p.x").as("context"))
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).cast("long").as("n"))
      .filter(col("n") >= SkipMinCount)
  }

  def skipgramQuery(s: SparkSession, d: String): DataFrame =
    skipgram(Tables.documents(s, d))

  val skipgramSql: String =
    s"""WITH toks AS (
       |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
       |  FROM documents
       |), pos1 AS (
       |  SELECT t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2
       |), pos2 AS (
       |  SELECT t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3
       |), prs AS (
       |  SELECT t[i] AS center, t[i+1] AS context FROM pos1
       |  UNION ALL SELECT t[i+1], t[i] FROM pos1
       |  UNION ALL SELECT t[i], t[i+2] FROM pos2
       |  UNION ALL SELECT t[i+2], t[i] FROM pos2
       |)
       |SELECT center, context, count(*)::BIGINT AS n
       |FROM prs GROUP BY center, context
       |HAVING count(*) >= $SkipMinCount
       |ORDER BY center, context""".stripMargin

  /** Heaps-law checkpoint count: prefix sizes at i/[[HeapsPoints]]
    * fractions of the doc-id range.
    */
  val HeapsPoints = 8

  /** q_heaps — Heaps'-law vocabulary-growth fit V(T) ≈ k·T^β (Heaps
    * 1978; β ≈ 0.4–0.6 on natural text): ln V regressed on ln T over
    * [[HeapsPoints]] doc-id-prefix checkpoints — the GROWTH companion
    * of `q_zipf`'s static rank-frequency slope (the two laws are duals;
    * together they say whether the tokenizer's vocab budget will
    * saturate or keep bleeding UNK mass as the corpus grows — THE
    * question a 100 TB ingest asks before fixing a vocab size).
    * Exactness without rescans: V at every checkpoint comes from ONE
    * fold — a term's FIRST document (min doc_id per term) — because
    * V(prefix ≤ c) = #{terms: first_doc ≤ c}; T per checkpoint is one
    * token-count fold over doc buckets. Both folds are exact BIGINTs;
    * per-point ln fixes to r6 BEFORE the OLS sums (which fold in
    * decimal — the zipf rule), slope/intercept divide in double with
    * identical shapes, r6. Empty checkpoints (no docs in a prefix)
    * drop out by construction.
    *
    * Scale: two corpus folds total (term→min doc, doc→token count),
    * both partial-agg; checkpoints evaluate on the |vocab|- and
    * |docs|-bounded frames; the regression runs on ≤[[HeapsPoints]]
    * rows. The corpus is never rescanned per checkpoint.
    */
  def heapsQuery(s: SparkSession, d: String): DataFrame =
    heaps(Tables.documents(s, d))

  def heaps(docs: DataFrame): DataFrame = {
    // 1-row bounded statistic: collect the doc-id bounds ONCE (the house
    // rule — a lazy bounds frame referenced by both checkpoint joins
    // re-derived the full-column aggregate twice; r6 judge finding).
    val boundsRow = docs
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi")).head()
    // checkpoint c_i = lo + ceil(i·(hi−lo+1)/P) − 1, i = 1..P
    val cksRows: Seq[(Long, Long)] =
      if (boundsRow.isNullAt(0)) Seq.empty
      else {
        val lo = boundsRow.getLong(0); val hi = boundsRow.getLong(1)
        (1 to HeapsPoints).map(i => (i.toLong,
          lo + math.ceil(i.toDouble * (hi - lo + 1) / HeapsPoints).toLong - 1))
      }
    import docs.sparkSession.implicits._
    val cks = cksRows.toDF("i", "c")
    val firstDoc = docs
      .select(col("doc_id"), explode(TextSim.tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(min(col("doc_id")).as("fd"))
    val docToks = docs
      .select(col("doc_id"), size(TextSim.tokens(col("text"))).cast("long").as("nt"))
    val pts = broadcast(cks)
      .join(firstDoc, col("fd") <= col("c"))
      .groupBy(col("i"), col("c")).agg(count(lit(1)).as("v"))
      .join(broadcast(cks).as("k2")
        .join(docToks, col("doc_id") <= col("k2.c"))
        .groupBy(col("k2.i").as("i")).agg(sum(col("nt")).as("t")),
        Seq("i"))
      .filter(col("t") > 0 && col("v") > 0)
      .select(TextSim.r6(log(col("t").cast("double"))).as("x"),
        TextSim.r6(log(col("v").cast("double"))).as("y"))
    // degenerate guard: <2 usable points (or coinciding checkpoints)
    // zero the OLS denominator — NULL, never NaN/Inf (engines disagree
    // on NaN rendering; the Ewma single-hour-mae rule).
    val denom = col("n_points") * col("sxx") - col("sx") * col("sx")
    val usable = col("n_points") >= 2 && denom =!= 0
    pts.agg(
      count(lit(1)).as("n_points"),
      TextSim.dsum(col("x")).as("sx"), TextSim.dsum(col("y")).as("sy"),
      TextSim.dsum(col("x") * col("y")).as("sxy"),
      TextSim.dsum(col("x") * col("x")).as("sxx"))
      .select(col("n_points"),
        when(usable,
          TextSim.r6((col("n_points") * col("sxy") - col("sx") * col("sy")) /
            denom)).as("beta"),
        when(usable,
          TextSim.r6(exp((col("sy") - (col("n_points") * col("sxy") -
            col("sx") * col("sy")) / denom * col("sx")) /
            col("n_points")))).as("k"))
  }

  val heapsSql: String =
    s"""WITH bounds AS (
       |  SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents
       |), cks AS MATERIALIZED (
       |  SELECT i, (lo + ceil(i * (hi - lo + 1) / $HeapsPoints)::BIGINT - 1) AS c
       |  FROM bounds CROSS JOIN (SELECT unnest(range(1, ${HeapsPoints + 1})) AS i)
       |), first_doc AS (
       |  SELECT term, min(doc_id) AS fd FROM (
       |    SELECT doc_id,
       |           unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
       |    FROM documents
       |  ) GROUP BY term
       |), doc_toks AS (
       |  SELECT doc_id,
       |         len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS nt
       |  FROM documents
       |), vt AS (
       |  SELECT cks.i, count(*)::BIGINT AS v
       |  FROM cks JOIN first_doc ON first_doc.fd <= cks.c
       |  GROUP BY cks.i
       |), tt AS (
       |  SELECT cks.i, sum(nt)::BIGINT AS t
       |  FROM cks JOIN doc_toks ON doc_toks.doc_id <= cks.c
       |  GROUP BY cks.i
       |), pts AS (
       |  SELECT ${TextSim.r6Sql("ln(t::DOUBLE)")} AS x,
       |         ${TextSim.r6Sql("ln(v::DOUBLE)")} AS y
       |  FROM vt JOIN tt USING (i)
       |  WHERE t > 0 AND v > 0
       |), sums AS (
       |  SELECT count(*)::BIGINT AS n_points,
       |         ${TextSim.dsumSql("x")} AS sx, ${TextSim.dsumSql("y")} AS sy,
       |         ${TextSim.dsumSql("x * y")} AS sxy, ${TextSim.dsumSql("x * x")} AS sxx
       |  FROM pts
       |)
       |SELECT n_points,
       |       CASE WHEN n_points >= 2 AND n_points * sxx - sx * sx <> 0
       |            THEN ${TextSim.r6Sql("(n_points * sxy - sx * sy) / (n_points * sxx - sx * sx)")}
       |       END AS beta,
       |       CASE WHEN n_points >= 2 AND n_points * sxx - sx * sx <> 0
       |            THEN ${TextSim.r6Sql("exp((sy - (n_points * sxy - sx * sy) / (n_points * sxx - sx * sx) * sx) / n_points)")}
       |       END AS k
       |FROM sums""".stripMargin

  val DriftBuckets = 256L

  /** q_drift — distribution drift between two corpus slices (fixture:
    * even vs odd doc_id — in production, last week's snapshot vs this
    * week's) over [[DriftBuckets]] hashed-unigram buckets: per-bucket
    * Laplace-smoothed probabilities p (ref) and q (cur), the
    * per-bucket Jensen–Shannon contribution jsd = ½p·ln(p/m) +
    * ½q·ln(q/m) with m = (p+q)/2 (reported in micro-nats; Σ over
    * buckets = the JS divergence, symmetric and bounded by ln 2 —
    * the drift-alarm threshold input), and the signed log-ratio
    * λ = ln p − ln q in integer micro-nats (which way each bucket
    * moved — the same fixed-point discipline as the q_dsir λ table).
    *
    * Scale: the whole query folds both slices to ≤B rows in ONE
    * explode + partial-agg groupBy (slice membership is a per-row
    * flag, not a join); totals ride a 1-row broadcast. A weekly drift
    * check on a 100 TB corpus is two linear scans' worth of I/O and a
    * 256-row report.
    */
  def driftQuery(s: SparkSession, d: String): DataFrame =
    drift(Tables.documents(s, d).withColumn("is_ref", col("doc_id") % 2 === 0))
      .orderBy(col("b"))

  /** Frame-based [[driftQuery]] over any `(text, is_ref)` frame. */
  def drift(docs: DataFrame): DataFrame = {
    val B = DriftBuckets
    val counts = docs
      .select(col("is_ref"),
        explode(Md5Buckets.salted(TextSim.tokens(col("text")), "", B)).as("b"))
      .groupBy(col("b"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cb"))
    val totals = counts.agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
    val withP = counts.crossJoin(broadcast(totals))
      .withColumn("p", (col("ca") + 1).cast("double") / (col("ta") + B))
      .withColumn("q", (col("cb") + 1).cast("double") / (col("tb") + B))
      .withColumn("m", (col("p") + col("q")) / 2)
    withP.select(col("b"), col("ca"), col("cb"),
      floor((log(col("p")) - log(col("q"))) * 1e6 + 0.5).cast("long").as("llr_micro"),
      TextSim.r6((col("p") * log(col("p") / col("m")) / 2 +
        col("q") * log(col("q") / col("m")) / 2) * 1e6).as("jsd_micro"))
  }

  val driftSql: String =
    s"""WITH bks AS (
       |  SELECT doc_id % 2 = 0 AS is_ref,
       |         ('0x' || substr(md5(g), 1, 7))::BIGINT % $DriftBuckets AS b
       |  FROM (SELECT doc_id,
       |               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS g
       |        FROM documents)
       |), counts AS (
       |  SELECT b,
       |         sum(CASE WHEN is_ref THEN 1 ELSE 0 END)::BIGINT AS ca,
       |         sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END)::BIGINT AS cb
       |  FROM bks GROUP BY b
       |), tot AS (
       |  SELECT sum(ca)::BIGINT AS ta, sum(cb)::BIGINT AS tb FROM counts
       |), probs AS (
       |  SELECT b, ca, cb,
       |         (ca + 1)::DOUBLE / (ta + $DriftBuckets) AS p,
       |         (cb + 1)::DOUBLE / (tb + $DriftBuckets) AS q
       |  FROM counts, tot
       |)
       |SELECT b, ca, cb,
       |       floor((ln(p) - ln(q)) * 1000000.0 + 0.5)::BIGINT AS llr_micro,
       |       ${TextSim.r6Sql("(p * ln(p / ((p + q) / 2)) / 2 + q * ln(q / ((p + q) / 2)) / 2) * 1000000.0")} AS jsd_micro
       |FROM probs
       |ORDER BY b""".stripMargin

  /** q_embed_drift — SEMANTIC drift between two corpus slices: the
    * [[drift]] JSD machinery applied to embedding-cluster occupancy
    * instead of hashed unigrams. `q_drift` sees VOCABULARY movement; a
    * paraphrased or translated shift keeps moving topics with mostly
    * stable top words invisible to it, while the cluster histogram
    * moves — "is this week's crawl ABOUT the same things", the
    * embedding-space twin of lexical drift monitoring. Both slices
    * assign through the SAME deterministic centroids (the shuffle-free
    * [[graft.functions.NearestCentroids]] argmax — slice membership is
    * a per-row flag, not a join), fold to one ≤|cents| cell frame
    * (dense grid, zero-filled — an emptied cluster is exactly the
    * signal), then per-cell Laplace-smoothed log-ratio and JSD
    * contributions in the [[drift]] arithmetic (Σ jsd_micro ≤ ln 2 ·
    * 1e6 is the alarm input; llr says which way each topic moved).
    */
  def embedDriftQuery(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", Ann.norm(col("embedding")))
    val cents = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    embedDrift(e.withColumn("is_ref", col("vec_id") % 2 === 0), cents)
  }

  /** Frame-based semantic drift over `(vec_id, embedding, is_ref)` and
    * a centroid frame.
    */
  def embedDrift(vectors: DataFrame, cents: DataFrame): DataFrame = {
    val nCents = cents.count()
    val assigned = vectors
      .withColumn("nc",
        graft.functions.NearestCentroids.fromFrame(col("embedding"), cents, 1))
      .select(col("is_ref"),
        element_at(col("nc"), 1).getField("cent_id").as("cent_id"))
    val counts = assigned.groupBy(col("cent_id"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cb"))
    val dense = cents.select(col("cent_id"))
      .join(counts, Seq("cent_id"), "left")
      .withColumn("ca", coalesce(col("ca"), lit(0L)))
      .withColumn("cb", coalesce(col("cb"), lit(0L)))
    val totals = dense.agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
    dense.crossJoin(broadcast(totals))
      .withColumn("p", (col("ca") + 1).cast("double") / (col("ta") + nCents))
      .withColumn("q", (col("cb") + 1).cast("double") / (col("tb") + nCents))
      .withColumn("m", (col("p") + col("q")) / 2)
      .select(col("cent_id"), col("ca"), col("cb"),
        floor((log(col("p")) - log(col("q"))) * 1e6 + 0.5).cast("long").as("llr_micro"),
        TextSim.r6((col("p") * log(col("p") / col("m")) / 2 +
          col("q") * log(col("q") / col("m")) / 2) * 1e6).as("jsd_micro"))
  }

  val embedDriftSql: String = {
    import Ann.{cosineSql, dotSql}
    val nrm = s"sqrt(${dotSql("embedding", "embedding")})"
    s"""WITH e AS (
       |  SELECT vec_id, embedding, $nrm AS nrm FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cent_id, embedding AS c_emb, nrm AS c_nrm
       |  FROM e WHERE vec_id % 25 = 0
       |), assigned AS (
       |  SELECT vec_id, is_ref, cent_id FROM (
       |    SELECT e.vec_id, e.vec_id % 2 = 0 AS is_ref, c.cent_id,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             ${cosineSql("e.embedding", "e.nrm", "c.c_emb", "c.c_nrm")} DESC,
       |             c.cent_id) AS rk
       |    FROM e CROSS JOIN cents c)
       |  WHERE rk = 1
       |), counts AS (
       |  SELECT cent_id,
       |         sum(CASE WHEN is_ref THEN 1 ELSE 0 END)::BIGINT AS ca,
       |         sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END)::BIGINT AS cb
       |  FROM assigned GROUP BY cent_id
       |), dense AS (
       |  SELECT c.cent_id, coalesce(counts.ca, 0)::BIGINT AS ca,
       |         coalesce(counts.cb, 0)::BIGINT AS cb
       |  FROM cents c LEFT JOIN counts USING (cent_id)
       |), tot AS (
       |  SELECT sum(ca)::BIGINT AS ta, sum(cb)::BIGINT AS tb,
       |         (SELECT count(*) FROM cents)::BIGINT AS nc
       |  FROM dense
       |), probs AS (
       |  SELECT cent_id, ca, cb,
       |         (ca + 1)::DOUBLE / (ta + nc) AS p,
       |         (cb + 1)::DOUBLE / (tb + nc) AS q
       |  FROM dense, tot
       |)
       |SELECT cent_id, ca, cb,
       |       floor((ln(p) - ln(q)) * 1000000.0 + 0.5)::BIGINT AS llr_micro,
       |       ${TextSim.r6Sql("(p * ln(p / ((p + q) / 2)) / 2 + q * ln(q / ((p + q) / 2)) / 2) * 1000000.0")} AS jsd_micro
       |FROM probs
       |ORDER BY cent_id""".stripMargin
  }

  val TfidfTopK = 5

  /** q_tfidf_domain — each source's characteristic vocabulary: top-k
    * terms by tf·idf where idf = ln(N/df) over SOURCES as the document
    * unit (df = sources containing the term), so corpus-wide terms
    * score 0 and what surfaces is what makes the domain distinctive —
    * the qualitative face of [[Corpus]] q_domain_mix's volume shares
    * (WHAT each domain contributes, not how much).
    *
    * Scale: corpus → (source, term) tf in one explode + partial-agg
    * groupBy; df folds that frame (already ≤|sources|·|vocab| rows) by
    * term; N rides a 1-row broadcast; the top-k window sorts each
    * source's ≤|vocab| aggregated rows — never documents.
    */
  def tfidfDomainQuery(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("tfidf").desc, col("term"))
    val tf = Tables.documents(s, d)
      .select(col("source"), explode(TextSim.tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = tf.select(col("source")).distinct()
      .agg(count(lit(1)).as("n_sources"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        TextSim.r6(col("tf") * log(col("n_sources").cast("double") / col("df"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfidfTopK)
      .select(col("source"), col("rank").cast("long").as("rank"),
        col("term"), col("tf"), col("df"), col("tfidf"))
      .orderBy(col("source"), col("rank"))
  }

  val tfidfDomainSql: String =
    s"""WITH tf AS (
       |  SELECT source, term, count(*)::BIGINT AS tf FROM (
       |    SELECT source,
       |           unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
       |    FROM documents
       |  ) GROUP BY source, term
       |), df AS (
       |  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
       |), n AS (
       |  SELECT count(DISTINCT source)::BIGINT AS n_sources FROM tf
       |), scored AS (
       |  SELECT source, term, tf, df,
       |         ${TextSim.r6Sql("tf * ln(n_sources::DOUBLE / df::DOUBLE)")} AS tfidf
       |  FROM tf JOIN df USING (term) CROSS JOIN n
       |)
       |SELECT source, rank, term, tf, df, tfidf FROM (
       |  SELECT *, row_number() OVER (PARTITION BY source
       |                               ORDER BY tfidf DESC, term) AS rank
       |  FROM scored
       |)
       |WHERE rank <= $TfidfTopK
       |ORDER BY source, rank""".stripMargin

  val ZipfHead = 100

  /** q_zipf — Zipf's-law fit over the vocabulary head: OLS of
    * ln(tf) on ln(rank) for the top-[[ZipfHead]] terms (slope ≈ −1 on
    * natural text; a flat slope means template mass, a cliff means a
    * closed vocabulary — the one-number summary of what
    * [[Corpus]] q_vocab/q_histogram show in detail). Per-point x, y
    * are r6-rounded FIRST, then every OLS sum folds in decimal (exact,
    * order-free — the house dsum rule), so slope/intercept are
    * engine-identical. The head selection (tf desc, term) is a total
    * order; the window ranks 100 rows on one partition — bounded by
    * construction, not by data.
    */
  def zipfQuery(s: SparkSession, d: String): DataFrame = {
    val w = graft.functions.GridWindow.ord(col("tf").desc, col("term"))
    val head = Tables.documents(s, d)
      .select(explode(TextSim.tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term")).limit(ZipfHead)
    val pts = head
      .withColumn("rank", row_number().over(w))
      .select(TextSim.r6(log(col("rank"))).as("x"), TextSim.r6(log(col("tf"))).as("y"))
    pts.agg(
      count(lit(1)).as("n_terms"),
      TextSim.dsum(col("x")).as("sx"), TextSim.dsum(col("y")).as("sy"),
      TextSim.dsum(col("x") * col("y")).as("sxy"),
      TextSim.dsum(col("x") * col("x")).as("sxx"))
      .select(col("n_terms"),
        TextSim.r6((col("n_terms") * col("sxy") - col("sx") * col("sy")) /
          (col("n_terms") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        TextSim.r6((col("sy") - (col("n_terms") * col("sxy") - col("sx") * col("sy")) /
          (col("n_terms") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
          col("n_terms")).as("intercept"))
  }

  val zipfSql: String =
    s"""WITH head AS (
       |  SELECT term, count(*)::BIGINT AS tf FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
       |    FROM documents
       |  ) GROUP BY term
       |  ORDER BY tf DESC, term LIMIT $ZipfHead
       |), pts AS (
       |  SELECT ${TextSim.r6Sql("ln(row_number() OVER (ORDER BY tf DESC, term))")} AS x,
       |         ${TextSim.r6Sql("ln(tf)")} AS y
       |  FROM head
       |), sums AS (
       |  SELECT count(*)::BIGINT AS n_terms,
       |         ${TextSim.dsumSql("x")} AS sx, ${TextSim.dsumSql("y")} AS sy,
       |         ${TextSim.dsumSql("x * y")} AS sxy, ${TextSim.dsumSql("x * x")} AS sxx
       |  FROM pts
       |)
       |SELECT n_terms,
       |       ${TextSim.r6Sql("(n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx)")} AS slope,
       |       ${TextSim.r6Sql("(sy - (n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx) * sx) / n_terms")} AS intercept
       |FROM sums""".stripMargin

  /** Per-source Shannon entropy of the term distribution + Pielou
    * evenness (H / ln V) — the mix-diversity SCALAR next to
    * [[Corpus.lexicalDiversity]]'s TTR (which counts distinct terms but
    * is blind to their balance: a source that is 99% one template word
    * plus a long unique tail keeps a decent TTR while its entropy
    * collapses) and `q_zipf`'s whole-corpus slope (this is per-source,
    * the granularity the mixing stage weights at). Low evenness =
    * template/boilerplate mass; the entropy in nats is the source's
    * per-token information content — what a token budget actually buys
    * from that domain.
    *
    * Determinism (the [[LinkPred]] micro-unit rule): H = ln n −
    * (Σ c·ln c)/n sums libm values across the vocabulary, and a double
    * Σ folds in partition order — so each ln fixes to integer
    * MICRO-NATS first (⌊1e6·ln c + 0.5⌋, one libm call per row of the
    * vocab-bounded frame) and the numerator n·⌊1e6·ln n⌋ − Σ c·⌊1e6·ln c⌋
    * is an exact BIGINT (order-free, engine-identical; < 2⁶³ through
    * 10¹¹ tokens/source). Entropy and evenness each divide ONCE in
    * double and r6-round. A single-term source has entropy exactly 0
    * (numerator provably 0) and NULL evenness (ln V = 0 — reported as
    * the degenerate it is, never ±inf; the `q_abtest` guard).
    *
    * Scale shape: one explode → one (source, term) partial-agg groupBy
    * (map-side combine collapses repeats before the shuffle — the
    * [[Corpus.lexicalDiversity]] plan); ln runs on the vocab-bounded
    * frame, which then folds to ≤ |sources| rows. The corpus never
    * shuffles on doc_id.
    */
  def domainEntropy(docs: DataFrame): DataFrame = {
    def lnMicro(c: org.apache.spark.sql.Column) =
      floor(log(c.cast("double")) * 1e6 + 0.5).cast("long")
    val tf = docs
      .select(col("source"), explode(TextSim.tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val per = tf
      .select(col("source"), col("tf"), (col("tf") * lnMicro(col("tf"))).as("clnc"))
      .groupBy(col("source"))
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_terms"),
        sum(col("clnc")).cast("long").as("sum_clnc"))
    per
      .withColumn("num", col("n_tokens") * lnMicro(col("n_tokens")) - col("sum_clnc"))
      .select(col("source"), col("n_tokens"), col("n_terms"),
        TextSim.r6(col("num").cast("double") /
          (col("n_tokens").cast("double") * 1e6)).as("entropy"),
        when(col("n_terms") > 1L,
          TextSim.r6(col("num").cast("double") /
            (col("n_tokens").cast("double") *
              lnMicro(col("n_terms")).cast("double")))).as("evenness"))
  }

  /** q_domain_entropy — [[domainEntropy]] over the documents corpus. */
  def domainEntropyQuery(s: SparkSession, d: String): DataFrame =
    domainEntropy(Tables.documents(s, d)).orderBy(col("source"))

  val domainEntropySql: String =
    s"""WITH terms AS (
       |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
       |  FROM documents
       |), tf AS (
       |  SELECT source, term, count(*)::BIGINT AS tf
       |  FROM terms GROUP BY source, term
       |), per AS (
       |  SELECT source, sum(tf)::BIGINT AS n_tokens, count(*)::BIGINT AS n_terms,
       |         sum(tf * CAST(floor(ln(tf::DOUBLE) * 1000000.0 + 0.5) AS BIGINT))::BIGINT AS sum_clnc
       |  FROM tf GROUP BY source
       |), w AS (
       |  SELECT source, n_tokens, n_terms,
       |         n_tokens * CAST(floor(ln(n_tokens::DOUBLE) * 1000000.0 + 0.5) AS BIGINT) - sum_clnc AS num,
       |         CAST(floor(ln(n_terms::DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS lnv
       |  FROM per
       |)
       |SELECT source, n_tokens, n_terms,
       |       ${TextSim.r6Sql("num::DOUBLE / (n_tokens::DOUBLE * 1000000.0)")} AS entropy,
       |       CASE WHEN n_terms > 1 THEN ${TextSim.r6Sql("num::DOUBLE / (n_tokens::DOUBLE * lnv::DOUBLE)")} END AS evenness
       |FROM w ORDER BY source""".stripMargin
}
