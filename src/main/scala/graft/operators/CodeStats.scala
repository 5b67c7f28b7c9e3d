package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Code-corpus quality filters — the StarCoder/BigCode screen a
  * training-data pipeline runs over CODE documents before tokenizing
  * (The Stack / SantaCoder data recipes): per-document line census
  * (line count, max/mean line length — minified or machine-generated
  * files have kilometer lines), comment-line fraction (near-zero =
  * generated, near-one = license boilerplate), indentation fraction,
  * and alphanumeric fraction (binary-in-text and encoded blobs sink
  * it). All ratios in exact integer micro units (numerator·1e6 `div`
  * denominator), so the verdicts are engine-exact — no double folds.
  *
  * The corpus fixture ([[Tables.codeDocs]]) normalizes the prose
  * corpus into code-shaped bodies deterministically (8-word lines, a
  * `# ` comment prefix on lines opening with a stop word, a 4-space
  * indent on lines opening with `data`) so every statistic has a
  * closed-form truth both engines derive independently. Comment /
  * indent detection is line-anchored `startswith` over the split
  * array — on a real code corpus the markers become per-language
  * prefix sets, same shape.
  *
  * Scale: pure per-row column arithmetic over one scan — the split
  * array never explodes (array lambdas fold in place), nothing
  * shuffles.
  */
object CodeStats {

  val MaxLine = 45L
  val MaxCommentMicro = 300000L
  val MinAlnumMicro = 800000L

  def codeStats(s: SparkSession, d: String): DataFrame =
    statsOf(Tables.codeDocs(s, d))

  /** Line-census statistics over any (doc_id, body) frame. */
  def statsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("body"),
        split(col("body"), "\n").as("ls"))
      .select(col("doc_id"),
        expr("size(ls)").cast("long").as("n_lines"),
        expr("array_max(transform(ls, x -> length(x)))").cast("long")
          .as("max_line"),
        expr("aggregate(ls, 0L, (a, x) -> a + length(x))").as("sum_len"),
        expr("size(filter(ls, x -> startswith(x, '#')))").cast("long")
          .as("n_comment"),
        expr("size(filter(ls, x -> startswith(x, '    ')))").cast("long")
          .as("n_indent"),
        length(regexp_replace(col("body"), "[^A-Za-z0-9]", ""))
          .cast("long").as("alnum"),
        length(col("body")).cast("long").as("len"))
      .select(col("doc_id"), col("n_lines"), col("max_line"),
        expr("(sum_len * 1000000) div n_lines").as("avg_line_micro"),
        expr("(n_comment * 1000000) div n_lines").as("comment_micro"),
        expr("(n_indent * 1000000) div n_lines").as("indent_micro"),
        expr("(alnum * 1000000) div greatest(len, 1L)").as("alnum_micro"))
      .withColumn("keep",
        col("max_line") <= MaxLine &&
          col("comment_micro") <= MaxCommentMicro &&
          col("alnum_micro") >= MinAlnumMicro)

  /** q_code_domain — per-source rollup of the screen: the dashboard a
    * curation run actually monitors (keep rate and mean signal per
    * corpus source — a source whose keep rate collapses is a scraper
    * change, not a data property). Pure integer arithmetic over the
    * per-doc census: keep rate and means in micro units via `div`.
    * One scan, two partial-agg levels.
    */
  def codeDomain(s: SparkSession, d: String): DataFrame =
    Tables.codeDocs(s, d)
      .select(col("source"), col("doc_id"), col("body"))
      .join(statsOf(Tables.codeDocs(s, d).select(col("doc_id"), col("body")))
        .select(col("doc_id"), col("n_lines"), col("max_line"),
          col("comment_micro"), col("alnum_micro"), col("keep")),
        Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("keep").cast("long")).cast("long").as("n_keep"),
        sum(col("n_lines")).cast("long").as("sl"),
        max(col("max_line")).cast("long").as("max_line"),
        sum(col("comment_micro")).cast("long").as("sc"),
        sum(col("alnum_micro")).cast("long").as("sa"))
      .select(col("source"), col("n_docs"), col("n_keep"),
        expr("(n_keep * 1000000) div n_docs").as("keep_micro"),
        expr("(sl * 1000000) div n_docs").as("avg_lines_micro"),
        col("max_line"),
        expr("sc div n_docs").as("avg_comment_micro"),
        expr("sa div n_docs").as("avg_alnum_micro"))
      .orderBy(col("source"))

  val codeDomainSql: String =
    s"""WITH ${Tables.codeDocsSql},
       |lines AS (
       |  SELECT doc_id, source, body, string_split(body, chr(10)) AS ls
       |  FROM codedocs
       |), stats AS (
       |  SELECT doc_id, source,
       |    len(ls)::BIGINT AS n_lines,
       |    list_max(list_transform(ls, x -> length(x)))::BIGINT AS max_line,
       |    (len(list_filter(ls, x -> starts_with(x, '#')))::BIGINT * 1000000)
       |      // len(ls) AS comment_micro,
       |    (length(regexp_replace(body, '[^A-Za-z0-9]', '', 'g'))::BIGINT * 1000000)
       |      // greatest(length(body), 1) AS alnum_micro
       |  FROM lines
       |)
       |SELECT source, count(*)::BIGINT AS n_docs,
       |       sum(CASE WHEN max_line <= $MaxLine
       |                 AND comment_micro <= $MaxCommentMicro
       |                 AND alnum_micro >= $MinAlnumMicro
       |                THEN 1 ELSE 0 END)::BIGINT AS n_keep,
       |       (sum(CASE WHEN max_line <= $MaxLine
       |                  AND comment_micro <= $MaxCommentMicro
       |                  AND alnum_micro >= $MinAlnumMicro
       |                 THEN 1 ELSE 0 END)::BIGINT * 1000000) // count(*)
       |         AS keep_micro,
       |       (sum(n_lines)::BIGINT * 1000000) // count(*) AS avg_lines_micro,
       |       max(max_line)::BIGINT AS max_line,
       |       sum(comment_micro)::BIGINT // count(*) AS avg_comment_micro,
       |       sum(alnum_micro)::BIGINT // count(*) AS avg_alnum_micro
       |FROM stats
       |GROUP BY source
       |ORDER BY source""".stripMargin

  val codeStatsSql: String =
    s"""WITH ${Tables.codeDocsSql},
       |lines AS (
       |  SELECT doc_id, body, string_split(body, chr(10)) AS ls
       |  FROM codedocs
       |), stats AS (
       |  SELECT doc_id,
       |    len(ls)::BIGINT AS n_lines,
       |    list_max(list_transform(ls, x -> length(x)))::BIGINT AS max_line,
       |    list_sum(list_transform(ls, x -> length(x)))::BIGINT AS sum_len,
       |    len(list_filter(ls, x -> starts_with(x, '#')))::BIGINT AS n_comment,
       |    len(list_filter(ls, x -> starts_with(x, '    ')))::BIGINT AS n_indent,
       |    length(regexp_replace(body, '[^A-Za-z0-9]', '', 'g'))::BIGINT AS alnum,
       |    length(body)::BIGINT AS len
       |  FROM lines
       |)
       |SELECT doc_id, n_lines, max_line,
       |       (sum_len * 1000000) // n_lines AS avg_line_micro,
       |       (n_comment * 1000000) // n_lines AS comment_micro,
       |       (n_indent * 1000000) // n_lines AS indent_micro,
       |       (alnum * 1000000) // greatest(len, 1) AS alnum_micro,
       |       max_line <= $MaxLine AND
       |         (n_comment * 1000000) // n_lines <= $MaxCommentMicro AND
       |         (alnum * 1000000) // greatest(len, 1) >= $MinAlnumMicro AS keep
       |FROM stats
       |ORDER BY doc_id""".stripMargin
}
