package graft.operators

import graft.Tables
import graft.functions.{Md5Buckets, TextSim}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trained multinomial naive-Bayes text classifier — the
  * fastText-classifier slot of a curation stack (CCNet / RedPajama
  * use exactly this shape to score "looks like Wikipedia" quality or
  * to route documents by language): hashed unigram features, per-class
  * Laplace-smoothed log-likelihood tables, argmax scoring. The fixture
  * task is language ID over the labeled `lang` column, which makes it
  * the TRAINED counterpart of the heuristic q_lang_id — same decision,
  * learned from the held-out slice instead of hand-coded letter
  * frequencies — and the per-doc margin doubles as a confidence score
  * the mixing stage can threshold. (The synthetic corpus draws text
  * independently of its `lang` column, so the fixture exercises the
  * full machinery at chance accuracy; separable-corpus learning is
  * asserted in NaiveBayesSpec.)
  *
  * Reference hook: the reference pipeline hard-codes its corpus
  * routing (one Notion workspace in, one vector namespace out —
  * Notion_openai_vector_etl.py:369-417); a multi-source 100 TB corpus
  * needs the learned router this operator provides.
  *
  * House fixed-point discipline (the [[Perplexity]] contract): every
  * per-(class, bucket) log term and every class prior is rounded to
  * integer MICRO-NATS independently before any per-doc sum, so scores
  * are exact long arithmetic — order-independent, hash-oracle-safe.
  *
  * Scale shape: training is one partial-agg groupBy over the train
  * slice folding to ≤ C·(B+1) rows (collected under the
  * bounded-statistic contract — 5 classes × 257 here); scoring is a
  * pure per-row fold of C literal tables riding the scan. The corpus
  * never shuffles in either phase, and incremental retraining is
  * merge-by-addition on the counts frame ([[mergeCounts]]) — a new
  * ingest batch never rescans old documents.
  */
object NaiveBayes {

  /** Hashed-unigram buckets per class table. */
  val B = 256

  /** `(doc_id, label, n_toks, b)` bucket frame — one tokenize + one
    * native digest pass ([[Md5Buckets]], q_dsir's kernel).
    */
  private def buckets(docs: DataFrame, labelCol: String): DataFrame =
    docs
      .select(col("doc_id"), col(labelCol).as("label"),
        graft.functions.TextSim.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 1)
      .select(col("doc_id"), col("label"),
        size(col("t")).cast("long").as("n_toks"),
        Md5Buckets.salted(col("t"), "", B).as("b"))

  /** INCREMENTAL training counts from a labeled corpus: `(label, b, c)`
    * rows, b = -1 carrying the class's document count, b in [0, B)
    * carrying its token-bucket counts. ≤ C·(B+1) rows, raw counts only
    * — batches merge by addition ([[mergeCounts]]).
    */
  def counts(docs: DataFrame, labelCol: String = "lang"): DataFrame = {
    val bk = buckets(docs, labelCol)
    bk.select(col("label"), explode(col("b")).as("b"))
      .unionAll(bk.select(col("label"), lit(-1L).as("b")))
      .groupBy(col("label"), col("b"))
      .agg(count(lit(1)).cast("long").as("c"))
  }

  /** Counts from a new labeled batch fold in by addition — exact, any
    * order.
    */
  def mergeCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.unionAll(b).groupBy(col("label"), col("b"))
      .agg(sum(col("c")).cast("long").as("c"))

  /** The fitted model: class names (sorted — the argmax tie-break
    * order), per-class micro-nat priors, per-class micro-nat
    * log-likelihood tables. Plain literals, so scoring works on
    * batch frames and streams alike.
    */
  final case class Model(classes: Array[String], priors: Array[Long],
    tables: Array[Array[Long]])

  /** Fit the fixed-point model from a counts frame. `classes` is the
    * label universe (distinct labels of the FULL corpus, so a class
    * absent from the train slice still scores under pure smoothing).
    * Bounded collect: ≤ C·(B+1) rows.
    */
  def fit(countsDf: DataFrame, classes: Seq[String]): Model = {
    val cs = classes.distinct.sorted.toArray
    val m = countsDf.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val nDocs = cs.map(c => m.getOrElse((c, -1L), 0L))
    val nTotal = nDocs.sum
    val priors = nDocs.map(n => micro(
      math.log((n + 1).toDouble / (nTotal + cs.length))))
    val tables = cs.map { c =>
      val tc = (0 until B).map(b => m.getOrElse((c, b.toLong), 0L)).sum
      Array.tabulate(B) { b =>
        micro(math.log((m.getOrElse((c, b.toLong), 0L) + 1).toDouble / (tc + B)))
      }
    }
    Model(cs, priors, tables)
  }

  private def micro(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong

  /** Score `docs` under a FIXED model — pure per-row fold against C
    * constant-folded literal tables, no shuffle; the streaming face
    * reuses this verbatim. Output `(doc_id, label, n_toks, pred,
    * score_micro, margin_micro)`: argmax class, its micro-nat
    * posterior, and the gap to the runner-up (ties break on class
    * name — `array_sort` over `(-score, class)` structs).
    */
  def scoreWith(docs: DataFrame, model: Model,
    labelCol: String = "lang"): DataFrame = {
    val cand = array(model.classes.indices.map { i =>
      val lut = array(model.tables(i).toSeq.map(lit): _*)
      val s = lit(model.priors(i)) +
        aggregate(col("b"), lit(0L),
          (acc, x) => acc + element_at(lut, (x + 1).cast("int")))
      struct((-s).as("ns"), lit(model.classes(i)).as("cls"), s.as("s"))
    }: _*)
    buckets(docs, labelCol)
      .select(col("doc_id"), col("label"), col("n_toks"),
        array_sort(cand).as("r"))
      .select(col("doc_id"), col("label"), col("n_toks"),
        element_at(col("r"), 1).getField("cls").as("pred"),
        element_at(col("r"), 1).getField("s").as("score_micro"),
        (element_at(col("r"), 1).getField("s") -
          element_at(col("r"), 2).getField("s")).as("margin_micro"))
  }

  /** Frame-based classify: train on the held-out slice
    * (doc_id % EvalMod = 0 — the q_dsir/q_perplexity convention),
    * score the rest.
    */
  def classify(docs: DataFrame, labelCol: String = "lang"): DataFrame = {
    val classes = docs.select(col(labelCol)).distinct()
      .collect().map(_.getString(0)).toSeq
    val model = fit(
      counts(docs.filter(col("doc_id") % Corpus.EvalMod === 0), labelCol),
      classes)
    scoreWith(docs.filter(col("doc_id") % Corpus.EvalMod =!= 0), model,
      labelCol)
  }

  /** q_nb_classify — language routing over the documents corpus. */
  def nbClassify(s: SparkSession, d: String): DataFrame =
    classify(Tables.documents(s, d))
      .withColumnRenamed("label", "lang")
      .orderBy(col("doc_id"))

  /** Calibration band width in micro-nats (0.2 nats per band). */
  val CalBandMicro = 200000L
  val CalBands = 10L

  /** q_nb_calibration — the reliability diagram of the trained
    * classifier: scored docs banded by their runner-up MARGIN (the
    * confidence `q_nb_classify` emits), per band the doc count,
    * correct count, accuracy, and mean margin — the audit that says
    * whether the margin the mixing stage thresholds on actually MEANS
    * anything (a well-calibrated classifier's accuracy rises with the
    * band; a flat curve says the threshold is theater). All inputs are
    * the exact micro-nat scores; banding is integer division capped at
    * the top band; accuracy and mean divide once in double, r6.
    *
    * Scale: scoring is the nb_classify scan; calibration adds one
    * ≤[[CalBands]]-group partial-agg fold.
    */
  def nbCalibration(s: SparkSession, d: String): DataFrame =
    calibration(
      classify(Tables.documents(s, d)).withColumnRenamed("label", "lang"),
      "lang")

  /** Reliability fold over any scored frame carrying (pred,
    * margin_micro, `labelCol`).
    */
  def calibration(scored: DataFrame, labelCol: String): DataFrame =
    scored
      .withColumn("band",
        least(expr(s"margin_micro div $CalBandMicro"), lit(CalBands - 1))
          .cast("long"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred") === col(labelCol), 1L).otherwise(0L)).as("n_correct"),
        sum(col("margin_micro")).as("sum_margin"))
      .select(col("band"), col("n_docs"), col("n_correct"),
        graft.functions.TextSim.r6(
          col("n_correct").cast("double") / col("n_docs")).as("acc_r6"),
        graft.functions.TextSim.r6(
          col("sum_margin").cast("double") / col("n_docs") / 1e6).as("mean_margin"))

  lazy val nbCalibrationSql: String = {
    val r6 = graft.functions.TextSim.r6Sql _
    s"""SELECT band, count(*)::BIGINT AS n_docs,
       |       sum(CASE WHEN pred = lang THEN 1 ELSE 0 END)::BIGINT AS n_correct,
       |       ${r6("sum(CASE WHEN pred = lang THEN 1 ELSE 0 END)::DOUBLE / count(*)")} AS acc_r6,
       |       ${r6("sum(margin_micro)::DOUBLE / count(*) / 1000000.0")} AS mean_margin
       |FROM (
       |  SELECT *, least(margin_micro // $CalBandMicro, ${CalBands - 1})::BIGINT AS band
       |  FROM ($nbClassifySql)
       |)
       |GROUP BY band
       |ORDER BY band""".stripMargin
  }

  val nbClassifySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |  FROM documents
       |), tk AS (
       |  SELECT doc_id, lang,
       |         ('0x' || substr(md5(t[i]), 1, 7))::BIGINT % $B AS b
       |  FROM (SELECT doc_id, lang, t, unnest(range(1, len(t) + 1)) AS i
       |        FROM toks WHERE len(t) >= 1)
       |), cls AS (
       |  SELECT DISTINCT lang AS cand FROM documents
       |), cnt AS (
       |  SELECT lang, b, count(*)::BIGINT AS c FROM tk
       |  WHERE doc_id % ${Corpus.EvalMod} = 0 GROUP BY lang, b
       |), tot AS (
       |  SELECT lang, sum(c)::BIGINT AS tc FROM cnt GROUP BY lang
       |), nd AS (
       |  SELECT lang, count(*)::BIGINT AS n FROM documents
       |  WHERE doc_id % ${Corpus.EvalMod} = 0 GROUP BY lang
       |), nn AS (
       |  SELECT (SELECT count(*)::BIGINT FROM documents
       |          WHERE doc_id % ${Corpus.EvalMod} = 0) AS n,
       |         (SELECT count(*)::BIGINT FROM cls) AS nc
       |), pri AS (
       |  SELECT c.cand,
       |         floor(ln((coalesce(nd.n, 0) + 1)::DOUBLE / (nn.n + nn.nc))
       |               * 1000000.0 + 0.5)::BIGINT AS p
       |  FROM cls c CROSS JOIN nn LEFT JOIN nd ON nd.lang = c.cand
       |), term AS (
       |  SELECT tk.doc_id, c.cand,
       |         floor(ln((coalesce(k.c, 0) + 1)::DOUBLE
       |                  / (coalesce(t.tc, 0) + $B))
       |               * 1000000.0 + 0.5)::BIGINT AS x
       |  FROM tk CROSS JOIN cls c
       |  LEFT JOIN cnt k ON k.lang = c.cand AND k.b = tk.b
       |  LEFT JOIN tot t ON t.lang = c.cand
       |  WHERE tk.doc_id % ${Corpus.EvalMod} <> 0
       |), sc AS (
       |  SELECT term.doc_id, term.cand,
       |         (any_value(pri.p) + sum(term.x))::BIGINT AS st
       |  FROM term JOIN pri ON pri.cand = term.cand
       |  GROUP BY term.doc_id, term.cand
       |), ranked AS (
       |  SELECT doc_id, cand, st,
       |         row_number() OVER (PARTITION BY doc_id
       |                            ORDER BY st DESC, cand) AS rk
       |  FROM sc
       |), nt AS (
       |  SELECT doc_id, any_value(lang) AS lang, count(*)::BIGINT AS n_toks
       |  FROM tk WHERE doc_id % ${Corpus.EvalMod} <> 0 GROUP BY doc_id
       |)
       |SELECT nt.doc_id, nt.lang, nt.n_toks,
       |       r1.cand AS pred, r1.st AS score_micro,
       |       (r1.st - r2.st)::BIGINT AS margin_micro
       |FROM nt
       |JOIN ranked r1 ON r1.doc_id = nt.doc_id AND r1.rk = 1
       |JOIN ranked r2 ON r2.doc_id = nt.doc_id AND r2.rk = 2
       |ORDER BY nt.doc_id""".stripMargin

  /** Confident-disagreement threshold: 0.5 nats between top-1 and the
    * runner-up before a disagreeing label is called suspect.
    */
  val NoiseMarginMicro = 500000L

  /** q_label_noise — the confident-learning screen (the Cleanlab move,
    * Northcutt et al. 2021, over the trained router): a document whose
    * PREDICTED class disagrees with its recorded label while beating
    * the runner-up by ≥ [[NoiseMarginMicro]] is a suspected
    * mislabel; per label, the suspect count/rate and the most common
    * disagreement target (where the mislabels point — a label pair
    * that dominates is a systematic upstream tagging bug, not noise).
    * Uses the top1−top2 margin the classifier already emits — a LOWER
    * BOUND on top1−score(label) whenever pred ≠ label, so the screen
    * is conservative by construction (never flags a doc whose own
    * label is competitive).
    *
    * Exact integers end to end (micro-nat scores, counts, one micro
    * division); tie on the confusion target breaks to the
    * lexicographically smaller class. Scale: one ≤C²-row fold past the
    * nb_classify scan; the report is ≤C rows.
    */
  def labelNoise(s: SparkSession, d: String): DataFrame =
    labelNoiseOf(classify(Tables.documents(s, d))
      .withColumnRenamed("label", "lang"))

  /** The screen over any scored frame carrying (lang, pred,
    * margin_micro) — [[classify]]'s output shape.
    */
  def labelNoiseOf(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = scored.groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("pred") =!= col("lang") &&
          col("margin_micro") >= NoiseMarginMicro, 1L).otherwise(0L))
          .cast("long").as("n_suspect"))
    val top = scored
      .filter(col("pred") =!= col("lang") &&
        col("margin_micro") >= NoiseMarginMicro)
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).cast("long").as("top_confused_n"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("top_confused_n").desc, col("pred"))))
      .filter(col("rn") === 1)
      .select(col("lang"), col("pred").as("top_confused"),
        col("top_confused_n"))
    base.join(top, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("n_suspect"),
        expr("(1000000 * n_suspect) div n_docs").as("noise_micro"),
        col("top_confused"),
        coalesce(col("top_confused_n"), lit(0L)).as("top_confused_n"))
  }

  lazy val labelNoiseSql: String =
    s"""WITH scored AS ($nbClassifySql
       |), sus AS (
       |  SELECT lang, pred, count(*)::BIGINT AS n
       |  FROM scored
       |  WHERE pred <> lang AND margin_micro >= $NoiseMarginMicro
       |  GROUP BY lang, pred
       |), top AS (
       |  SELECT lang, pred AS top_confused, n AS top_confused_n FROM (
       |    SELECT lang, pred, n,
       |           row_number() OVER (PARTITION BY lang
       |                              ORDER BY n DESC, pred) AS rn
       |    FROM sus) WHERE rn = 1
       |), base AS (
       |  SELECT lang, count(*)::BIGINT AS n_docs,
       |         sum(CASE WHEN pred <> lang
       |                   AND margin_micro >= $NoiseMarginMicro
       |                  THEN 1 ELSE 0 END)::BIGINT AS n_suspect
       |  FROM scored GROUP BY lang
       |)
       |SELECT b.lang, b.n_docs, b.n_suspect,
       |       (1000000 * b.n_suspect) // b.n_docs AS noise_micro,
       |       t.top_confused,
       |       coalesce(t.top_confused_n, 0)::BIGINT AS top_confused_n
       |FROM base b LEFT JOIN top t ON t.lang = b.lang
       |ORDER BY b.lang""".stripMargin
}
