package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Encoding-corruption (mojibake) screen — the data-quality filter a
  * web-scale text pipeline runs right after charset decoding (the
  * reference ingests Notion API strings and trusts them blindly;
  * a 100 TB crawl cannot). Three independent corruption signals, all
  * counted by exact replace/regex length arithmetic (no UDF, no
  * shuffle — the [[TextAnalysis]] scan discipline):
  *
  *  - `n_fffd` — U+FFFD replacement characters: the decoder already
  *    admitted defeat once per occurrence.
  *  - `n_double` — UTF-8-read-as-Latin-1 double encoding: a
  *    two-byte UTF-8 sequence C3 xx decoded as Latin-1 becomes
  *    'Ã' + a continuation byte rendered as U+0080–U+00BF ('Ã©',
  *    'Ã¼', …) — the single most common mojibake signature.
  *  - `n_ctrl` — C0 control characters other than tab/LF/CR:
  *    binary-in-text leakage.
  *
  * Counting is subtraction-exact: strip the pattern, divide the
  * length delta by the match width (`div`) — identical semantics in
  * both engines (global replace; Java and RE2 agree on these
  * patterns). The verdict `corrupt` plus a per-char severity score
  * in micro units ((fffd·2 + double·2 + ctrl)·1e6 `div` chars —
  * weights = characters destroyed per hit).
  *
  * The fixture ([[Tables.mojibakeAug]]) plants each signature
  * deterministically (every 7th doc a double-encoded é, every 13th a
  * U+FFFD, every 11th a C0 control) so detection has closed-form
  * truth and the three signals overlap on some docs.
  */
object Mojibake {

  /** 'Ã' followed by a Latin-1-rendered continuation byte. */
  val DoublePat = "Ã[\\x{80}-\\x{BF}]"
  /** C0 controls except NUL/tab/LF/CR. */
  val CtrlPat = "[\\x{01}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}]"

  def mojibake(s: SparkSession, d: String): DataFrame =
    screen(Tables.mojibakeAug(s, d))

  /** The corruption screen over any (doc_id, t) frame. */
  def screen(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        length(col("t")).cast("long").as("len"),
        (length(col("t")) - length(expr("replace(t, '�', '')")))
          .cast("long").as("n_fffd"),
        ((length(col("t")) - length(regexp_replace(col("t"), DoublePat, "")))
          .cast("long")).as("dd"),
        (length(col("t")) - length(regexp_replace(col("t"), CtrlPat, "")))
          .cast("long").as("n_ctrl"))
      .select(col("doc_id"), col("n_fffd"),
        expr("dd div 2").as("n_double"), col("n_ctrl"),
        expr("((n_fffd * 2 + dd + n_ctrl) * 1000000) div greatest(len, 1L)")
          .as("bad_micro"))
      .withColumn("corrupt",
        col("n_fffd") > 0L || col("n_double") > 0L || col("n_ctrl") > 0L)

  val mojibakeSql: String =
    s"""WITH ${Tables.mojibakeAugSql},
       |c AS (
       |  SELECT doc_id, length(t)::BIGINT AS len,
       |    (length(t) - length(replace(t, chr(65533), '')))::BIGINT AS n_fffd,
       |    (length(t) - length(regexp_replace(t, 'Ã[\\x{80}-\\x{BF}]', '', 'g')))::BIGINT AS dd,
       |    (length(t) - length(regexp_replace(t,
       |      '[\\x{01}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}]', '', 'g')))::BIGINT AS n_ctrl
       |  FROM mojidocs
       |)
       |SELECT doc_id, n_fffd, dd // 2 AS n_double, n_ctrl,
       |       ((n_fffd * 2 + dd + n_ctrl) * 1000000) // greatest(len, 1) AS bad_micro,
       |       n_fffd > 0 OR dd // 2 > 0 OR n_ctrl > 0 AS corrupt
       |FROM c
       |ORDER BY doc_id""".stripMargin
}
