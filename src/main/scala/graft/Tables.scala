package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loaders + corpora derived deterministically from the
  * driver test tables. Every derivation here has an exact SQL mirror in
  * [[SparkEntry.oracleSql]] (CTEs named like the methods), so the DuckDB
  * oracle sees byte-identical inputs.
  *
  * Scale note: loaders are plain parquet scans — column pruning and
  * predicate pushdown happen in the consuming query; derivations are
  * narrow (no shuffle).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
    * reader rejects; read ns as long and truncate to micros — exactly
    * what DuckDB does on read (its TIMESTAMP is µs), so the oracle sees
    * identical values.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    // The legacy conf is session state; under parallel suites /
    // cloned streaming sessions the schema can still resolve with it
    // unset (ts arrives TIMESTAMP_NTZ, nanos already truncated to
    // µs). Branch on the RESOLVED type instead of trusting the conf:
    // both arms floor to the same microsecond value (session tz is
    // pinned UTC by every entry point, so the NTZ cast is lossless).
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Document corpus with injected duplicates for the dedup operators
    * (the pristine corpus has no exact duplicates).
    * - doc_id+1000000: exact copies of every 10th doc.
    * - doc_id+2000000: near copies (suffix appended) of every 7th doc.
    * SQL mirror: CTE `docs_aug`.
    */
  def docsAug(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("text"))
    base
      .unionAll(
        base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionAll(
        base.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" near duplicate suffix marker")).as("text")))
  }

  /** SQL mirror of [[docsAug]] for oracle queries. */
  val docsAugSql: String =
    """docs_aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, text || ' near duplicate suffix marker'
      |  FROM documents WHERE doc_id % 7 = 0
      |)""".stripMargin

  /** Media corpus with injected PERCEPTUAL duplicates for the image
    * near-dup operator: opaque binary payloads (the 1-D luminance
    * model, [[graft.sources.MediaTransforms]]) whose planted copies
    * are byte-DIFFERENT — they escape the exact `q_media_meta` digest
    * — but perceptually near-identical:
    * - media_id+1000000: "re-encoded" copies of every 10th payload
    *   (every letter's luminance shifted +2 — the quantization jitter
    *   of a lossy re-encode).
    * - media_id+2000000: "2×-upsampled" copies of every 7th payload
    *   (each byte doubled — a resize).
    * SQL mirror: CTE `media`.
    */
  def mediaAug(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("text"))
    base.select(col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"))
      .unionAll(
        base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("media_id"),
            encode(translate(col("text"),
              "abcdefghijklmnopqrstuvwxyz", "cdefghijklmnopqrstuvwxyz{|"),
              "UTF-8").as("payload")))
      .unionAll(
        base.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000L).as("media_id"),
            encode(regexp_replace(col("text"), "(.)", "$1$1"), "UTF-8")
              .as("payload")))
  }

  /** SQL mirror of [[mediaAug]] for oracle queries. */
  val mediaAugSql: String =
    """media AS (
      |  SELECT doc_id AS media_id, encode(text) AS payload FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |         encode(translate(text, 'abcdefghijklmnopqrstuvwxyz',
      |                          'cdefghijklmnopqrstuvwxyz{|'))
      |  FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, encode(regexp_replace(text, '(.)', '\1\1', 'g'))
      |  FROM documents WHERE doc_id % 7 = 0
      |)""".stripMargin

  /** Media corpus with REAL container headers planted over the text
    * payloads — the [[mediaAug]] sibling for header parsing
    * ([[graft.functions.MediaDims]]): every 3rd doc a PNG (8-byte
    * signature + IHDR with big-endian u32 dims), every 3rd a JPEG
    * (SOI, a variable-length COM segment of `doc_id % 7` filler bytes
    * so no fixed SOF offset exists, every 5th-ish padded with two
    * 0xFF fill bytes before SOF per ITU T.81 B.1.1.2, then SOF0 or
    * SOF2 alternating), every 6th-ish a GIF89a (logical-screen dims as
    * LITTLE-endian u16 at fixed offsets — the opposite byte order of
    * PNG/JPEG, which the asymmetric w/h catch), the rest raw text (no
    * container). Width/height are deterministic functions of doc_id,
    * so the parse has a closed-form truth both engines can check.
    */
  def mediaHeaders(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("text"))
    val w = col("doc_id") % 2000 + 16
    val h = col("doc_id") % 1333 + 16
    val png = concat(unhex(concat(
      lit("89504E470D0A1A0A0000000D49484452"),
      lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"), lit("0806000000"))),
      encode(col("text"), "UTF-8"))
    val jpeg = concat(unhex(concat(
      lit("FFD8FFFE"), lpad(hex(col("doc_id") % 7 + 2), 4, "0"),
      expr("repeat('41', cast(doc_id % 7 as int))"),
      // every 5th-ish JPEG: two ITU T.81 B.1.1.2 fill bytes (0xFF)
      // padding the SOF marker — a walk that treats FF as a marker
      // code misparses these to 'other'
      when(col("doc_id") % 5 === 1, lit("FFFF")).otherwise(lit("")),
      when(col("doc_id") % 2 === 0, lit("FFC0")).otherwise(lit("FFC2")),
      lit("001108"), lpad(hex(h), 4, "0"), lpad(hex(w), 4, "0"))),
      encode(col("text"), "UTF-8"))
    // LE u16: lpad hex gives BE nibble pairs; swap them
    def le16(v: org.apache.spark.sql.Column) = concat(
      substring(lpad(hex(v), 4, "0"), 3, 2),
      substring(lpad(hex(v), 4, "0"), 1, 2))
    val gif = concat(unhex(concat(lit("474946383961"), le16(w), le16(h))),
      encode(col("text"), "UTF-8"))
    base.select(col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, png)
        .when(col("doc_id") % 3 === 1, jpeg)
        .when(col("doc_id") % 6 === 2, gif)
        .otherwise(encode(col("text"), "UTF-8")).as("payload"))
  }

  // NOTE: no line here may BEGIN with "||" — this prelude is embedded
  // inside other stripMargin strings, and a second stripMargin pass
  // would eat the first pipe of a leading "||"
  val mediaHeadersSql: String =
    """mediah AS (
      |  SELECT doc_id AS media_id,
      |    CASE
      |      WHEN doc_id % 3 = 0 THEN
      |        unhex('89504E470D0A1A0A0000000D49484452' ||
      |              lpad(hex(16 + doc_id % 2000), 8, '0') ||
      |              lpad(hex(16 + doc_id % 1333), 8, '0') || '0806000000') ||
      |        encode(text)
      |      WHEN doc_id % 3 = 1 THEN
      |        unhex('FFD8FFFE' || lpad(hex(doc_id % 7 + 2), 4, '0') ||
      |              repeat('41', (doc_id % 7)::INT) ||
      |              CASE WHEN doc_id % 5 = 1 THEN 'FFFF' ELSE '' END ||
      |              CASE WHEN doc_id % 2 = 0 THEN 'FFC0' ELSE 'FFC2' END ||
      |              '001108' || lpad(hex(16 + doc_id % 1333), 4, '0') ||
      |              lpad(hex(16 + doc_id % 2000), 4, '0')) ||
      |        encode(text)
      |      WHEN doc_id % 6 = 2 THEN
      |        unhex('474946383961' ||
      |              substr(lpad(hex(16 + doc_id % 2000), 4, '0'), 3, 2) ||
      |              substr(lpad(hex(16 + doc_id % 2000), 4, '0'), 1, 2) ||
      |              substr(lpad(hex(16 + doc_id % 1333), 4, '0'), 3, 2) ||
      |              substr(lpad(hex(16 + doc_id % 1333), 4, '0'), 1, 2)) ||
      |        encode(text)
      |      ELSE encode(text)
      |    END AS payload
      |  FROM documents
      |)""".stripMargin

  /** Media corpus with TEXT-BEARING containers — the [[mediaHeaders]]
    * sibling for real metadata-text extraction
    * ([[graft.sources.MediaExtract.decodePngText]]): every 3rd doc a
    * spec-shaped PNG whose chunk chain is fully walkable (IHDR with
    * its CRC — [[mediaHeaders]] omits CRCs because the dims sniff
    * reads fixed offsets; a chunk WALK needs the real layout), then
    * two tEXt chunks (PNG spec 11.3.4.3: keyword, NUL, Latin-1 text —
    * here `Title` = the doc's source and `Comment` = its first 40
    * chars), then IEND. CRCs are deterministic zeros: extractors skip
    * them by length arithmetic, exactly like real metadata tools.
    * JPEG docs (doc_id % 3 = 1) carry COM comment segments, and the
    * odd-id half additionally an EXIF APP1 (TIFF IFD0 with inline
    * and offset ASCII tags, II or MM byte order by doc_id % 4 — the
    * r11 third rung). Non-3rd docs are raw text (no container) — the
    * stub-decoder path. Closed-form truth both engines can check.
    */
  def mediaText(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("source"), col("text"))
    val w = col("doc_id") % 2000 + 16
    val h = col("doc_id") % 1333 + 16
    def tExt(kwHex: String, kwLen: Int, v: org.apache.spark.sql.Column) = concat(
      lpad(hex(length(v) + lit(kwLen + 1)), 8, "0"),
      lit("74455874"), lit(kwHex), lit("00"),
      hex(encode(v, "UTF-8")), lit("00000000"))
    val png = unhex(concat(
      lit("89504E470D0A1A0A"), lit("0000000D49484452"),
      lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"),
      lit("0806000000"), lit("00000000"),
      tExt("5469746C65", 5, col("source")), // "Title"
      tExt("436F6D6D656E74", 7, substring(col("text"), 1, 40)), // "Comment"
      lit("0000000049454E4400000000")))
    // JPEG rung: ITU T.81 COM (0xFFFE) comment segments — the segment
    // real tools (exiftool, jhead) read text from; every 5th-ish one
    // carries B.1.1.2 fill bytes before the second COM so a walk that
    // can't skip padding FFs misses it
    def com(v: org.apache.spark.sql.Column) = concat(
      lit("FFFE"), lpad(hex(length(v) + 2), 4, "0"), hex(encode(v, "UTF-8")))
    // EXIF rung (r11): odd-id jpegs get an APP1 "Exif\0\0" + TIFF
    // segment before the COM chain — IFD0 with TWO ASCII tags, Make
    // (0x010F, 3 bytes: fits the 4-byte inline value slot) and
    // ImageDescription (0x010E, first 20 chars of text: value stored
    // at offset 38, right after the 2-entry IFD). doc_id % 4 picks
    // the byte order: 1 → II (little), 3 → MM (big) — both real
    // layouts, so the walk and its oracle mirror handle both.
    val desc = substring(col("text"), 1, 20)
    val make = concat(lit("d"), (col("doc_id") % 10).cast("string"))
    val tiffLe = concat(
      lit("49492A00" + "08000000" + "0200"),
      lit("0F01" + "0200" + "03000000"), hex(encode(make, "UTF-8")), lit("0000"),
      lit("0E01" + "0200"), lpad(hex(length(desc) + 1), 2, "0"), lit("000000"),
      lit("26000000"), lit("00000000"),
      hex(encode(desc, "UTF-8")), lit("00"))
    val tiffBe = concat(
      lit("4D4D002A" + "00000008" + "0002"),
      lit("010F" + "0002" + "00000003"), hex(encode(make, "UTF-8")), lit("0000"),
      lit("010E" + "0002" + "000000"), lpad(hex(length(desc) + 1), 2, "0"),
      lit("00000026"), lit("00000000"),
      hex(encode(desc, "UTF-8")), lit("00"))
    val app1 = concat(
      lit("FFE1"), lpad(hex(length(desc) + 47), 4, "0"), lit("457869660000"),
      when(col("doc_id") % 4 === 1, tiffLe).otherwise(tiffBe))
    val jpeg = unhex(concat(
      lit("FFD8"),
      when(col("doc_id") % 2 === 1, app1).otherwise(lit("")),
      com(concat(lit("Title="), col("source"))),
      when(col("doc_id") % 5 === 1, lit("FFFF")).otherwise(lit("")),
      com(concat(lit("Comment="), substring(col("text"), 1, 40))),
      lit("FFD9")))
    base.select(col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, png)
        .when(col("doc_id") % 3 === 1, jpeg)
        .otherwise(encode(col("text"), "UTF-8")).as("payload"))
  }

  // NOTE: no line here may BEGIN with "||" (the mediaHeadersSql rule)
  val mediaTextSql: String =
    """mediat AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN doc_id % 3 = 0 THEN
      |      unhex('89504E470D0A1A0A' || '0000000D49484452' ||
      |            lpad(hex(16 + doc_id % 2000), 8, '0') ||
      |            lpad(hex(16 + doc_id % 1333), 8, '0') ||
      |            '0806000000' || '00000000' ||
      |            lpad(hex(6 + len(source)), 8, '0') ||
      |            '74455874' || '5469746C65' || '00' ||
      |            hex(source) || '00000000' ||
      |            lpad(hex(8 + len(substr(text, 1, 40))), 8, '0') ||
      |            '74455874' || '436F6D6D656E74' || '00' ||
      |            hex(substr(text, 1, 40)) || '00000000' ||
      |            '0000000049454E4400000000')
      |    WHEN doc_id % 3 = 1 THEN
      |      unhex('FFD8' ||
      |            CASE WHEN doc_id % 2 = 1 THEN
      |              'FFE1' || lpad(hex(47 + len(substr(text, 1, 20))), 4, '0') ||
      |              '457869660000' ||
      |              CASE WHEN doc_id % 4 = 1 THEN
      |                '49492A00' || '08000000' || '0200' ||
      |                '0F010200' || '03000000' ||
      |                hex('d' || (doc_id % 10)) || '0000' ||
      |                '0E010200' ||
      |                lpad(hex(len(substr(text, 1, 20)) + 1), 2, '0') ||
      |                '000000' || '26000000' || '00000000' ||
      |                hex(substr(text, 1, 20)) || '00'
      |              ELSE
      |                '4D4D002A' || '00000008' || '0002' ||
      |                '010F0002' || '00000003' ||
      |                hex('d' || (doc_id % 10)) || '0000' ||
      |                '010E0002' || '000000' ||
      |                lpad(hex(len(substr(text, 1, 20)) + 1), 2, '0') ||
      |                '00000026' || '00000000' ||
      |                hex(substr(text, 1, 20)) || '00'
      |              END
      |            ELSE '' END ||
      |            'FFFE' || lpad(hex(8 + len(source)), 4, '0') ||
      |            hex('Title=' || source) ||
      |            CASE WHEN doc_id % 5 = 1 THEN 'FFFF' ELSE '' END ||
      |            'FFFE' || lpad(hex(10 + len(substr(text, 1, 40))), 4, '0') ||
      |            hex('Comment=' || substr(text, 1, 40)) ||
      |            'FFD9')
      |    ELSE encode(text) END AS payload
      |  FROM documents
      |)""".stripMargin

  /** Media corpus with planted CROPS — the [[mediaAug]] sibling for
    * the crop-robust tiled detector ([[graft.operators.MediaCrop]]):
    * every 9th doc also appears with its first 15% removed (front
    * crop), every 11th with its last 20% removed (end crop). A crop
    * RESCALES the whole-payload fixed-grid resample, so the
    * whole-image dHash provably misses these (asserted in
    * MediaCropSpec); the end-anchored tiles survive byte-identical.
    */
  def mediaCropAug(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("text"))
    base.select(col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"))
      .unionAll(base.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 3000000L).as("media_id"),
          encode(expr(
            "substring(text, cast((length(text)*3) div 20 as int) + 1)"),
            "UTF-8").as("payload")))
      .unionAll(base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 4000000L).as("media_id"),
          encode(expr(
            "substring(text, 1, cast(length(text) - length(text) div 5 as int))"),
            "UTF-8").as("payload")))
  }

  // no line may BEGIN with "||" (double-stripMargin rule, see
  // mediaHeadersSql)
  val mediaCropAugSql: String =
    """mediac AS (
      |  SELECT doc_id AS media_id, encode(text) AS payload FROM documents
      |  UNION ALL
      |  SELECT doc_id + 3000000,
      |         encode(substr(text, ((length(text)*3)//20 + 1)::INT))
      |  FROM documents WHERE doc_id % 9 = 0
      |  UNION ALL
      |  SELECT doc_id + 4000000,
      |         encode(substr(text, 1, (length(text) - length(text)//5)::INT))
      |  FROM documents WHERE doc_id % 11 = 0
      |)""".stripMargin

  /** Audio corpus with planted RIFF/WAVE headers — the audio rung of
    * the container-metadata family ([[graft.functions.MediaDims]]
    * fmt 3): every even doc a WAV whose `fmt ` chunk sits behind a
    * JUNK chunk of `doc_id % 5` bytes (odd sizes exercise RIFF's
    * pad-to-even rule — no fixed offset exists), odd docs raw text.
    * RIFF is LITTLE-endian, so the hex builder emits byte-swapped
    * fields; one template generates both engines' expression (they
    * differ only in integer-div spelling and encode arity).
    */
  private def wavHexCase(dv: (String, String) => String, enc: String): String = {
    def u16(x: String) =
      s"lpad(hex(($x) % 256), 2, '0') || lpad(hex((${dv(x, "256")}) % 256), 2, '0')"
    def u32(x: String) = s"${u16(x)} || ${u16(dv(x, "65536"))}"
    val j = "(doc_id % 5)"
    val rate = "(8000 + (doc_id % 12) * 4000)"
    val ch = "(1 + doc_id % 7)"
    val bits = "(8 * (1 + doc_id % 4))"
    val byterate = dv(s"$rate * $ch * $bits", "8")
    val balign = dv(s"$ch * $bits", "8")
    s"""CASE WHEN doc_id % 2 = 0 THEN unhex('52494646' || ${u32("1000")} ||
       '57415645' || '4A554E4B' || ${u32(j)} ||
       repeat('41', cast($j as int)) ||
       CASE WHEN $j % 2 = 1 THEN '00' ELSE '' END ||
       '666D7420' || ${u32("16")} || ${u16("1")} || ${u16(ch)} ||
       ${u32(rate)} || ${u32(byterate)} || ${u16(balign)} || ${u16(bits)}) ||
       $enc ELSE $enc END"""
  }

  def mediaAudio(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id").as("media_id"),
      expr(wavHexCase((a, b) => s"(($a) div ($b))", "encode(text, 'UTF-8')"))
        .as("payload"))

  val mediaAudioSql: String =
    s"""mediaa AS (
       |  SELECT doc_id AS media_id,
       |  ${wavHexCase((a, b) => s"(($a) // ($b))", "encode(text)")} AS payload
       |  FROM documents
       |)""".stripMargin

  /** Video corpus with planted MP4/ISO-BMFF headers — the video rung
    * of the container-metadata family ([[graft.functions.Mp4Meta]]):
    * every even doc an MP4 (ftyp brand `isom`, a `free` box of
    * `doc_id % 6` filler bytes so no fixed moov offset exists, then
    * `moov` whose child chain holds a `udta` of `doc_id % 5` bytes
    * before `mvhd` — forcing BOTH walks), odd docs raw text. Every
    * 8th doc's mvhd is VERSION 1 (64-bit times push timescale/
    * duration deeper — the layout fork real muxers emit for long
    * recordings). Timescale/duration are closed-form in doc_id. All
    * fields big-endian (ISO-BMFF), unlike RIFF's little-endian.
    */
  private def mp4HexCase(enc: String): String = {
    def u32(x: String) = s"lpad(hex($x), 8, '0')"
    val j = "(doc_id % 6)"
    val k = "(doc_id % 5)"
    val ts = "(600 * (1 + doc_id % 4))"
    val dur = "((doc_id % 9000) * 600 + 90)"
    val free = s"${u32(s"8 + $j")} || '66726565' || repeat('41', cast($j as int))"
    val udta = s"${u32(s"8 + $k")} || '75647461' || repeat('42', cast($k as int))"
    val mvhd0 = s"'0000006C6D766864' || repeat('00', 12) || ${u32(ts)} || " +
      s"${u32(dur)} || repeat('00', 80)"
    val mvhd1 = s"'000000786D766864' || '01000000' || repeat('00', 16) || " +
      s"${u32(ts)} || '00000000' || ${u32(dur)} || repeat('00', 80)"
    s"""CASE WHEN doc_id % 2 = 0 THEN unhex(
       '0000001066747970' || '69736F6D' || '00000200' || $free ||
       CASE WHEN doc_id % 8 = 0
            THEN ${u32(s"136 + $k")} || '6D6F6F76' || $udta || $mvhd1
            ELSE ${u32(s"124 + $k")} || '6D6F6F76' || $udta || $mvhd0 END) ||
       $enc ELSE $enc END"""
  }

  def mediaVideo(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id").as("media_id"),
      expr(mp4HexCase("encode(text, 'UTF-8')")).as("payload"))

  // no line may BEGIN with "||" (double-stripMargin rule, see
  // mediaHeadersSql)
  val mediaVideoSql: String =
    s"""mediav AS (
       |  SELECT doc_id AS media_id,
       |  ${mp4HexCase("encode(text)")} AS payload
       |  FROM documents
       |)""".stripMargin

  /** Code-shaped corpus for the code-quality screen
    * ([[graft.operators.CodeStats]]): the prose corpus normalized
    * deterministically into line-structured bodies — every 8 words a
    * line (one global regexp pass: non-overlapping leftmost matches,
    * identical Java/RE2 semantics), a `# ` comment prefix on lines
    * opening with the stop word `the`, a 4-space indent on lines
    * opening with `data`. Closed-form in the text, so every line
    * statistic has an engine-independent truth.
    */
  def codeDocs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("source"),
        regexp_replace(col("text"), "((?:\\S+ ){7}\\S+) ", "$1\n").as("t1"))
      .select(col("doc_id"), col("source"),
        expr("replace(t1, concat(chr(10), 'the '), concat(chr(10), '# the '))")
          .as("t2"))
      .select(col("doc_id"), col("source"),
        expr("replace(t2, concat(chr(10), 'data'), concat(chr(10), '    data'))")
          .as("body"))

  // no line may BEGIN with "||" (double-stripMargin rule, see
  // mediaHeadersSql)
  val codeDocsSql: String =
    """codedocs AS (
      |  SELECT doc_id, source,
      |    replace(replace(
      |      regexp_replace(text, '((?:\S+ ){7}\S+) ', '\1' || chr(10), 'g'),
      |      chr(10) || 'the ', chr(10) || '# the '),
      |      chr(10) || 'data', chr(10) || '    data') AS body
      |  FROM documents
      |)""".stripMargin

  /** Corpus with planted encoding corruption for the mojibake screen
    * ([[graft.operators.Mojibake]]): every 7th doc a double-encoded é
    * ('mÃ©rge' — the UTF-8-read-as-Latin-1 signature), every 13th a
    * U+FFFD replacement char, every 11th a C0 control byte. The
    * moduli overlap (doc 0, 77, 91, …) so multi-signal docs exist.
    * NOTE: Spark's `chr` is mod-256 (ASCII only) — non-ASCII plants
    * ride string literals; only the control byte uses chr(1).
    */
  def mojibakeAug(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          expr("replace(text, 'merge', 'mÃ©rge')")).otherwise(col("text"))
          .as("t1"))
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0,
          expr("replace(t1, 'data', 'da�ta')")).otherwise(col("t1"))
          .as("t2"))
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 0,
          expr("replace(t2, 'key', concat('k', chr(1), 'ey'))"))
          .otherwise(col("t2")).as("t"))

  // no line may BEGIN with "||" (double-stripMargin rule, see
  // mediaHeadersSql)
  val mojibakeAugSql: String =
    """mojidocs AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 0
      |         THEN replace(t2, 'key', 'k' || chr(1) || 'ey')
      |         ELSE t2 END AS t
      |  FROM (
      |    SELECT doc_id,
      |      CASE WHEN doc_id % 13 = 0
      |           THEN replace(t1, 'data', 'da' || chr(65533) || 'ta')
      |           ELSE t1 END AS t2
      |    FROM (
      |      SELECT doc_id,
      |        CASE WHEN doc_id % 7 = 0
      |             THEN replace(text, 'merge', 'mÃ©rge')
      |             ELSE text END AS t1
      |      FROM documents))
      |)""".stripMargin

  /** Embedding corpus with injected duplicate vectors (every 20th). */
  def embAug(s: SparkSession, d: String): DataFrame = {
    val base = embeddings(s, d).select(col("vec_id"), col("embedding"))
    base.unionAll(
      base.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
  }

  val embAugSql: String =
    """emb_aug AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 20 = 0
      |)""".stripMargin

  /** Link graph for the crawl operator (reference: Notion page graph,
    * Notion_openai_vector_etl.py:480-596), derived from events:
    * src = user_id, dst = floor(value) mod 150. Deterministic in both
    * engines (exact double → bigint floor).
    */
  def edges(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select((col("user_id") % 150).as("src"),
        (floor(col("value")).cast("long") % 150).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** Shared materialized edge barrier for the graph family (the
    * `Dedup.sharedLabels` precedent): all ~17 graph queries start from
    * the SAME events → mod-150 → distinct edge frame, and each sweep
    * entry re-paid the events scan + distinct exchange to rebuild it.
    * Memoized per (application, corpus dir) as an
    * [[operators.Iterate.materialize]] cut; a fresh session re-derives.
    * The in-session mirror of the production story: one materialized
    * edge table serves every graph consumer.
    */
  private val edgeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def edgesShared(s: SparkSession, d: String): DataFrame =
    edgeMemo.computeIfAbsent(s.sparkContext.applicationId + "|" + d,
      _ => operators.Iterate.materialize(edges(s, d)))

  val edgesSql: String =
    """edges AS (
      |  SELECT DISTINCT user_id % 150 AS src,
      |         CAST(floor(value) AS BIGINT) % 150 AS dst
      |  FROM events
      |  WHERE user_id % 150 <> CAST(floor(value) AS BIGINT) % 150
      |)""".stripMargin

  /** Simulated manifest (reference manifest.json: files keyed by block
    * id with last_edited_time + content hash, etl.py:189-215): docs with
    * doc_id % 10 != 0 were "already processed".
    */
  def manifest(s: SparkSession, d: String): DataFrame =
    documents(s, d).filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id").as("id"), md5(col("text")).as("content_hash"),
        (lit(100L) + col("doc_id") % 50).as("last_edited"))

  val manifestSql: String =
    """manifest AS (
      |  SELECT doc_id AS id, md5(text) AS content_hash,
      |         100 + doc_id % 50 AS last_edited
      |  FROM documents WHERE doc_id % 10 <> 0
      |)""".stripMargin

  /** Current crawl snapshot: every 7th doc has edited content, every
    * 13th a touched timestamp only.
    */
  def currentSnapshot(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id").as("id"),
      when(col("doc_id") % 7 === 0, md5(concat(col("text"), lit("edit"))))
        .otherwise(md5(col("text"))).as("content_hash"),
      when(col("doc_id") % 13 === 0, lit(999L))
        .otherwise(lit(100L) + col("doc_id") % 50).as("last_edited"))

  val currentSql: String =
    """current AS (
      |  SELECT doc_id AS id,
      |         CASE WHEN doc_id % 7 = 0 THEN md5(text || 'edit')
      |              ELSE md5(text) END AS content_hash,
      |         CASE WHEN doc_id % 13 = 0 THEN 999
      |              ELSE 100 + doc_id % 50 END AS last_edited
      |  FROM documents
      |)""".stripMargin
}
