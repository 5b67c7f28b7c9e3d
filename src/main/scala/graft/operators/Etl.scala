package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference pipeline's ETL stages re-expressed set-at-a-time.
  * Reference: /root/reference/Notion_openai_vector_etl.py (cited per
  * method). The reference processes one file at a time in a Python
  * loop; here every stage is a declarative DataFrame transform so
  * Catalyst plans it and it scales horizontally.
  */
object Etl {

  /** Greedy word-packing chunker (reference `chunk_text`, etl.py:239-251:
    * accumulate lines until adding the next would exceed max_len, then
    * start a new chunk; separators don't count toward length). Applied
    * to whitespace tokens since the corpus is single-line text.
    *
    * Pure higher-order-function fold — per-row, whole-stage codegen'd,
    * zero shuffle: at 100 TB this is a map over the scan.
    */
  def chunkTokens(text: Column, maxLen: Int): Column = {
    val tokens = filter(split(text, " "), w => w =!= "")
    val init = struct(
      typedLit(Seq.empty[String]).as("chunks"),
      lit("").as("cur"),
      lit(0).as("len"))
    val folded = aggregate(
      tokens,
      init,
      (a, w) =>
        when(a("len") + length(w) > maxLen && a("cur") =!= "",
          struct(
            concat(a("chunks"), array(a("cur"))).as("chunks"),
            w.as("cur"),
            length(w).as("len")))
          .otherwise(struct(
            a("chunks").as("chunks"),
            when(a("cur") === "", w).otherwise(concat(a("cur"), lit(" "), w)).as("cur"),
            (a("len") + length(w)).as("len"))),
      a => when(a("cur") === "", a("chunks"))
        .otherwise(concat(a("chunks"), array(a("cur")))))
    folded
  }

  /** Typed rows for the linear chunker. */
  case class DocText(doc_id: Long, text: String)
  case class ChunkRow(doc_id: Long, chunk_index: Long, chunk_text: String)
  case class DocWithHash(doc_id: Long, content_hash: String, text: String)
  case class ChunkWithHash(doc_id: Long, content_hash: String,
    chunk_index: Long, chunk_text: String)

  /** Core greedy packing — one streaming pass, O(len). */
  private def pack(text: String, maxLen: Int): Iterator[(Long, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val sb = new StringBuilder
    var len = 0
    var idx = 0L
    text.split(" ").iterator.filter(_.nonEmpty).foreach { w =>
      if (len + w.length > maxLen && len > 0) {
        out += ((idx, sb.toString)); idx += 1; sb.clear(); len = 0
      }
      if (len > 0) sb.append(' ')
      sb.append(w)
      len += w.length
    }
    if (len > 0) out += ((idx, sb.toString))
    out.iterator
  }

  /** Linear-time chunker for long documents — same greedy semantics as
    * [[chunkTokens]] (equivalence-tested), as a typed `mapPartitions`.
    *
    * Why both exist: the HOF fold is pure-expression (oracle-mirrorable,
    * no serialization), but closing a chunk copies the accumulated
    * chunks array — O(chunks²) per document. Fine at chat-page size;
    * wrong for megabyte documents at 100 TB. This version streams each
    * document once with a StringBuilder: O(len), constant memory beyond
    * the current chunk.
    */
  def chunkLinear(ds: org.apache.spark.sql.Dataset[DocText],
    maxLen: Int): org.apache.spark.sql.Dataset[ChunkRow] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[ChunkRow]
    ds.mapPartitions(_.flatMap(d =>
      pack(d.text, maxLen).map { case (i, c) => ChunkRow(d.doc_id, i, c) }))
  }

  /** [[chunkLinear]] carrying a per-source hash through the pass — at
    * scale this is what avoids re-joining chunks back to their source
    * row for identity derivation.
    */
  def chunkLinearHashed(ds: org.apache.spark.sql.Dataset[DocWithHash],
    maxLen: Int): org.apache.spark.sql.Dataset[ChunkWithHash] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[ChunkWithHash]
    ds.mapPartitions(_.flatMap(d =>
      pack(d.text, maxLen).map { case (i, c) =>
        ChunkWithHash(d.doc_id, d.content_hash, i, c) }))
  }

  /** Shared recursive-CTE mirror of [[chunkTokens]] for the DuckDB
    * oracle: assigns each word a chunk_idx with identical greedy
    * semantics, then reassembles chunks with string_agg.
    */
  def chunkCteSql(maxLen: Int): String =
    s"""words AS (
       |  SELECT doc_id, w AS word, i::INT AS i, length(w)::INT AS wlen
       |  FROM (
       |    SELECT doc_id,
       |           unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w,
       |           generate_subscripts(list_filter(string_split(text, ' '), x -> x <> ''), 1) AS i
       |    FROM documents)
       |), packed AS (
       |  SELECT doc_id, i, wlen, 0::BIGINT AS chunk_index, wlen AS cur_len
       |  FROM words WHERE i = 1
       |  UNION ALL
       |  SELECT w.doc_id, w.i, w.wlen,
       |         CASE WHEN p.cur_len + w.wlen > $maxLen AND p.cur_len > 0
       |              THEN p.chunk_index + 1 ELSE p.chunk_index END,
       |         CASE WHEN p.cur_len + w.wlen > $maxLen AND p.cur_len > 0
       |              THEN w.wlen ELSE p.cur_len + w.wlen END
       |  FROM packed p JOIN words w ON w.doc_id = p.doc_id AND w.i = p.i + 1
       |), chunks AS (
       |  SELECT w.doc_id, p.chunk_index,
       |         string_agg(w.word, ' ' ORDER BY w.i) AS chunk_text
       |  FROM packed p JOIN words w ON w.doc_id = p.doc_id AND w.i = p.i
       |  GROUP BY w.doc_id, p.chunk_index
       |)""".stripMargin

  val ChunkLen = 120

  /** q_chunk — exploded chunks with index (reference chunk loop,
    * etl.py:304-326).
    */
  def chunk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    chunkLinear(Tables.documents(s, d)
      .select(col("doc_id"), col("text")).as[DocText], ChunkLen)
      .toDF()
      .withColumn("chunk_len", length(col("chunk_text")).cast("long"))
      .orderBy(col("doc_id"), col("chunk_index"))
  }

  val chunkSql: String =
    s"""WITH RECURSIVE ${chunkCteSql(ChunkLen)}
       |SELECT doc_id, chunk_index, chunk_text,
       |       length(chunk_text)::BIGINT AS chunk_len
       |FROM chunks
       |ORDER BY doc_id, chunk_index""".stripMargin

  /** q_chunk_ids — chunk identity: sha256(source_path|file_hash|idx)
    * (reference build_chunks_for_file, etl.py:311-313).
    */
  def chunkIds(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    chunkLinearHashed(Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("content_hash"), col("text"))
      .as[DocWithHash], ChunkLen)
      .toDF()
      .select(
        sha2(concat(lit("/docs/"), col("doc_id"), lit("|"), col("content_hash"),
          lit("|"), col("chunk_index")), 256).as("chunk_id"),
        col("doc_id"), col("chunk_index"),
        col("content_hash").as("source_hash"))
      .orderBy(col("doc_id"), col("chunk_index"))
  }

  val chunkIdsSql: String =
    s"""WITH RECURSIVE ${chunkCteSql(ChunkLen)}
       |SELECT sha256('/docs/' || c.doc_id || '|' || md5(dd.text) || '|' || c.chunk_index) AS chunk_id,
       |       c.doc_id, c.chunk_index, md5(dd.text) AS source_hash
       |FROM chunks c JOIN documents dd ON dd.doc_id = c.doc_id
       |ORDER BY c.doc_id, c.chunk_index""".stripMargin

  /** q_content_hash — content identity (reference hash_file,
    * etl.py:102-107). md5 + sha256, codegen'd single pass.
    */
  def contentHash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("md5_hash"),
        sha2(col("text").cast("binary"), 256).as("sha256_hash"),
        length(col("text")).cast("long").as("n_bytes"))
      .orderBy(col("doc_id"))

  val contentHashSql: String =
    """SELECT doc_id, md5(text) AS md5_hash, sha256(text) AS sha256_hash,
      |       strlen(text)::BIGINT AS n_bytes
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q_discover — source discovery (reference file_info_from_block,
    * etl.py:157-186): filter blocks to file/image kinds, derive url +
    * filename, dedup stably (first block wins). Blocks are modeled on
    * events; the JSON props field plays the block payload.
    */
  def discover(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type").isin("view", "click"))
      .select(col("event_id").as("block_id"), col("user_id").as("page_id"),
        col("event_type").as("notion_type"),
        concat(lit("https://files.example.com/p"), col("user_id"), lit("/asset-"),
          get_json_object(col("props"), "$.k"), lit(".pdf")).as("url"))
      .groupBy(col("page_id"), col("url"))
      .agg(min(col("block_id")).as("block_id"), min(col("notion_type")).as("notion_type"))
      .select(col("block_id"), col("page_id"), col("url"), col("notion_type"))
      .orderBy(col("page_id"), col("url"))

  val discoverSql: String =
    """SELECT min(event_id) AS block_id, user_id AS page_id,
      |       'https://files.example.com/p' || user_id || '/asset-' ||
      |         json_extract_string(props, '$.k') || '.pdf' AS url,
      |       min(event_type) AS notion_type
      |FROM events
      |WHERE event_type IN ('view', 'click')
      |GROUP BY page_id, url
      |ORDER BY page_id, url""".stripMargin

  /** q_safe_name — URL → display/file name normalization (reference
    * display_name_from_url + safe_filename, etl.py:63-69, 152-154):
    * strip query string, take the last path segment, percent-decode
    * spaces, fall back to 'file'.
    */
  def safeName(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        concat(lit("https://files.example.com/"), col("source"), lit("/Report%20"),
          col("doc_id"), lit(".pdf?token=abc&sig=")).as("url"))
      .withColumn("clean", substring_index(col("url"), "?", 1))
      .select(col("doc_id"), col("url"),
        regexp_replace(regexp_extract(col("clean"), "([^/]+)$", 1), "%20", " ").as("display_name"))
      .withColumn("safe_filename",
        when(col("display_name") === "", "file").otherwise(col("display_name")))
      .orderBy(col("doc_id"))

  val safeNameSql: String =
    """WITH urls AS (
      |  SELECT doc_id,
      |         'https://files.example.com/' || source || '/Report%20' || doc_id ||
      |           '.pdf?token=abc&sig=' AS url
      |  FROM documents
      |), named AS (
      |  SELECT doc_id, url,
      |         replace(regexp_extract(split_part(url, '?', 1), '([^/]+)$', 1),
      |                 '%20', ' ') AS display_name
      |  FROM urls
      |)
      |SELECT doc_id, url, display_name,
      |       CASE WHEN display_name = '' THEN 'file' ELSE display_name END AS safe_filename
      |FROM named ORDER BY doc_id""".stripMargin

  /** q_page_title — the reference's page-title extraction
    * (page_title_from_properties, etl.py:131-138): scan a page's JSON
    * property map for the first `type == "title"` property whose
    * concatenated `plain_text` fragments are non-blank after trim;
    * fall back to the page id. Schema-on-read `from_json` into a typed
    * map (one parse per row, codegen-friendly field access) instead of
    * per-path JSON pathing; candidate properties checked in the
    * reference's iteration order (Name, then Title).
    *
    * Pages are synthesized from documents with property variants
    * covering: multi-fragment titles, blank titles (fall through), no
    * title property, and a non-title prop shadowing a later title.
    */
  def pageTitle(s: SparkSession, d: String): DataFrame = {
    val pages = Tables.documents(s, d).select(col("doc_id"),
      when(col("doc_id") % 4 === 0,
        concat(lit("""{"Name":{"type":"title","title":[{"plain_text":"Page """),
          col("doc_id"),
          lit(""""},{"plain_text":" part two"}]},"Tags":{"type":"multi_select"}}""")))
        .when(col("doc_id") % 4 === 1,
          lit("""{"Title":{"type":"title","title":[{"plain_text":"   "}]}}"""))
        .when(col("doc_id") % 4 === 2,
          lit("""{"Status":{"type":"select"}}"""))
        .otherwise(
          concat(lit("""{"Name":{"type":"select"},"Title":{"type":"title","title":[{"plain_text":"Doc """),
            col("doc_id"), lit("\"}]}}")))
        .as("props"))
    val propType = org.apache.spark.sql.types.DataType.fromDDL(
      "map<string, struct<type: string, title: array<struct<plain_text: string>>>>")
    val m = from_json(col("props"), propType)
    def titleOf(key: String): Column = {
      val p = element_at(m, key)
      val joined = trim(concat_ws("",
        transform(p.getField("title"), t => coalesce(t.getField("plain_text"), lit("")))))
      when(p.getField("type") === "title" && joined =!= "", joined)
    }
    pages.select(col("doc_id"),
      coalesce(titleOf("Name"), titleOf("Title"),
        concat(lit("page-"), col("doc_id"))).as("page_title"))
      .orderBy(col("doc_id"))
  }

  private def titleOfSql(key: String): String = {
    val joined =
      s"""trim(coalesce(list_aggregate([coalesce(json_extract_string(props, '$$.$key.title[' || i || '].plain_text'), '')
         |  for i in range(0, coalesce(json_array_length(props, '$$.$key.title'), 0)::BIGINT)], 'string_agg', ''), ''))""".stripMargin
    s"""CASE WHEN json_extract_string(props, '$$.$key.type') = 'title'
       |      AND $joined <> '' THEN $joined ELSE NULL END""".stripMargin
  }

  val pageTitleSql: String =
    s"""WITH pages AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 4 = 0 THEN
       |                '{"Name":{"type":"title","title":[{"plain_text":"Page ' || doc_id ||
       |                '"},{"plain_text":" part two"}]},"Tags":{"type":"multi_select"}}'
       |              WHEN doc_id % 4 = 1 THEN
       |                '{"Title":{"type":"title","title":[{"plain_text":"   "}]}}'
       |              WHEN doc_id % 4 = 2 THEN
       |                '{"Status":{"type":"select"}}'
       |              ELSE
       |                '{"Name":{"type":"select"},"Title":{"type":"title","title":[{"plain_text":"Doc ' ||
       |                doc_id || '"}]}}'
       |         END AS props
       |  FROM documents
       |)
       |SELECT doc_id,
       |       coalesce(${titleOfSql("Name")}, ${titleOfSql("Title")},
       |                'page-' || doc_id) AS page_title
       |FROM pages
       |ORDER BY doc_id""".stripMargin

  /** q_display_name — the reference's full name-derivation chain
    * (block_display_name + file_info_from_block + safe_filename,
    * etl.py:141-186), which q_safe_name only partially covered:
    *
    * - display_name: caption text wins; else URL basename after
    *   stripping the query string and trailing slashes, percent-decoded.
    * - filename, `file` blocks: caption (or 'file'), BUT a caption
    *   without a dot is not a filename → fall back to the raw URL last
    *   segment (NOT percent-decoded — the reference never unquotes the
    *   filename path, only the display path).
    * - filename, `image` blocks: always the URL last segment.
    * - safe_filename: trimmed basename, '' → 'file' (a trailing-slash
    *   URL yields an empty last segment → 'file').
    *
    * Blocks are synthesized from documents with caption/url variants
    * chosen to exercise every branch. Pure string expressions — per-row
    * map, no shuffle.
    */
  def displayName(s: SparkSession, d: String): DataFrame = {
    val b = Tables.documents(s, d).select(
      col("doc_id"),
      when(col("doc_id") % 2 === 0, "file").otherwise("image").as("btype"),
      when(col("doc_id") % 3 === 0, lit(""))
        .when(col("doc_id") % 3 === 1, concat(lit("Summary Notes "), col("doc_id")))
        .otherwise(concat(lit("brief-"), col("doc_id"), lit(".pdf"))).as("caption"),
      when(col("doc_id") % 5 === 0,
        concat(lit("https://files.example.com/d"), col("doc_id"),
          lit("/folder%20"), col("doc_id"), lit("/")))
        .otherwise(concat(lit("https://files.example.com/d"), col("doc_id"),
          lit("/Asset%20"), col("doc_id"), lit(".png?sig=abc"))).as("url"))
    val noq = substring_index(col("url"), "?", 1)
    val lastSeg = regexp_extract(noq, "([^/]*)$", 1)
    val urlDisplay =
      regexp_replace(regexp_extract(rtrim(noq, "/"), "([^/]+)$", 1), "%20", " ")
    val capOrFile = when(col("caption") =!= "", col("caption")).otherwise(lit("file"))
    val fname0 = when(col("btype") === "file",
      when(capOrFile.contains("."), capOrFile).otherwise(lastSeg))
      .otherwise(lastSeg)
    b.select(col("doc_id"), col("btype"), col("url"),
      when(col("caption") =!= "", col("caption")).otherwise(urlDisplay)
        .as("display_name"),
      when(trim(fname0) === "", "file").otherwise(trim(fname0)).as("filename"))
      .orderBy(col("doc_id"))
  }

  val displayNameSql: String =
    """WITH blocks AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 2 = 0 THEN 'file' ELSE 'image' END AS btype,
      |         CASE WHEN doc_id % 3 = 0 THEN ''
      |              WHEN doc_id % 3 = 1 THEN 'Summary Notes ' || doc_id
      |              ELSE 'brief-' || doc_id || '.pdf' END AS caption,
      |         CASE WHEN doc_id % 5 = 0
      |              THEN 'https://files.example.com/d' || doc_id || '/folder%20' || doc_id || '/'
      |              ELSE 'https://files.example.com/d' || doc_id || '/Asset%20' || doc_id || '.png?sig=abc'
      |         END AS url
      |  FROM documents
      |), named AS (
      |  SELECT doc_id, btype, caption, url,
      |         regexp_extract(split_part(url, '?', 1), '([^/]*)$', 1) AS last_seg,
      |         replace(regexp_extract(rtrim(split_part(url, '?', 1), '/'),
      |                                '([^/]+)$', 1), '%20', ' ') AS url_display,
      |         CASE WHEN caption <> '' THEN caption ELSE 'file' END AS cap_or_file
      |  FROM blocks
      |), fnamed AS (
      |  SELECT *, CASE WHEN btype = 'file'
      |                 THEN CASE WHEN cap_or_file LIKE '%.%' THEN cap_or_file
      |                           ELSE last_seg END
      |                 ELSE last_seg END AS f0
      |  FROM named
      |)
      |SELECT doc_id, btype, url,
      |       CASE WHEN caption <> '' THEN caption ELSE url_display END AS display_name,
      |       CASE WHEN trim(f0) = '' THEN 'file' ELSE trim(f0) END AS filename
      |FROM fnamed
      |ORDER BY doc_id""".stripMargin

  /** q_normalize_id — id/URI normalization (reference
    * normalize_notion_id, extract_id_from_notion_url, s3_split,
    * etl.py:72-99, 110-115): dash a 32-hex id into UUID form, pull the
    * trailing 32-hex id out of a share URL, split an s3:// URI into
    * bucket and key. Pure string expressions, codegen'd, no shuffle.
    */
  def normalizeId(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("raw_id"),
        concat(lit("https://www.notion.so/Workspace-Page-"), md5(col("text"))).as("url"),
        concat(lit("s3://bucket-"), col("doc_id") % 5, lit("/prefix/"),
          col("doc_id"), lit("/data.jsonl")).as("s3_uri"))
      .select(col("doc_id"),
        concat_ws("-",
          substring(col("raw_id"), 1, 8), substring(col("raw_id"), 9, 4),
          substring(col("raw_id"), 13, 4), substring(col("raw_id"), 17, 4),
          substring(col("raw_id"), 21, 12)).as("dashed_id"),
        regexp_extract(col("url"), "([0-9a-f]{32})$", 1).as("url_id"),
        substring_index(substring_index(col("s3_uri"), "s3://", -1), "/", 1).as("s3_bucket"),
        regexp_extract(col("s3_uri"), "^s3://[^/]+/(.*)$", 1).as("s3_key"))
      .orderBy(col("doc_id"))

  val normalizeIdSql: String =
    """WITH src AS (
      |  SELECT doc_id, md5(text) AS raw_id,
      |         'https://www.notion.so/Workspace-Page-' || md5(text) AS url,
      |         's3://bucket-' || (doc_id % 5) || '/prefix/' || doc_id ||
      |           '/data.jsonl' AS s3_uri
      |  FROM documents
      |)
      |SELECT doc_id,
      |       substr(raw_id, 1, 8) || '-' || substr(raw_id, 9, 4) || '-' ||
      |         substr(raw_id, 13, 4) || '-' || substr(raw_id, 17, 4) || '-' ||
      |         substr(raw_id, 21, 12) AS dashed_id,
      |       regexp_extract(url, '([0-9a-f]{32})$', 1) AS url_id,
      |       split_part(split_part(s3_uri, 's3://', 2), '/', 1) AS s3_bucket,
      |       regexp_extract(s3_uri, '^s3://[^/]+/(.*)$', 1) AS s3_key
      |FROM src
      |ORDER BY doc_id""".stripMargin

  /** q_manifest_delta — incremental classification (reference
    * process_source cache check, etl.py:691-706): a source is
    * 'unchanged' only when the manifest has it with equal
    * last_edited_time AND equal content hash; absent → 'new';
    * otherwise 'changed'. Full-outer join replaces the reference's
    * per-file dict lookup; at 100 TB both sides bucket by id so this
    * is a co-partitioned sort-merge join.
    */
  def manifestDelta(s: SparkSession, d: String): DataFrame =
    manifestDeltaFrom(Tables.currentSnapshot(s, d), Tables.manifest(s, d))

  /** Frame-based delta core: classify any current snapshot against any
    * manifest frame (both `(id, content_hash, last_edited)` — e.g. one
    * loaded from the reference's JSON manifest via
    * [[graft.sources.JsonStores.loadManifest]]).
    */
  def manifestDeltaFrom(current: DataFrame, manifest: DataFrame): DataFrame = {
    val m = manifest
      .select(col("id"), col("content_hash").as("m_hash"), col("last_edited").as("m_edited"))
    current.join(m, Seq("id"), "left_outer")
      .select(col("id"),
        when(col("m_hash").isNull, "new")
          .when(col("m_hash") =!= col("content_hash") || col("m_edited") =!= col("last_edited"), "changed")
          .otherwise("unchanged").as("status"),
        col("content_hash"), col("last_edited"))
      .withColumn("needs_vector", col("status") =!= "unchanged")
  }

  val manifestDeltaSql: String =
    s"""WITH ${Tables.manifestSql}, ${Tables.currentSql}
       |SELECT c.id,
       |       CASE WHEN m.id IS NULL THEN 'new'
       |            WHEN m.content_hash <> c.content_hash
       |              OR m.last_edited <> c.last_edited THEN 'changed'
       |            ELSE 'unchanged' END AS status,
       |       c.content_hash, c.last_edited,
       |       (CASE WHEN m.id IS NULL THEN 'new'
       |             WHEN m.content_hash <> c.content_hash
       |               OR m.last_edited <> c.last_edited THEN 'changed'
       |             ELSE 'unchanged' END) <> 'unchanged' AS needs_vector
       |FROM current c LEFT JOIN manifest m ON m.id = c.id
       |ORDER BY c.id""".stripMargin

  /** q_upsert_state — vector-store state after the incremental run
    * (reference delete_vs_files + upload, etl.py:609-614, 708-715):
    * vectors of unchanged sources survive; changed/new sources get
    * freshly derived vector file ids. Anti-join + union; never a
    * destructive in-place mutation (reference "never deletes data
    * automatically" — deletes only superseded vectors).
    */
  def upsertState(s: SparkSession, d: String): DataFrame = {
    val store = Tables.manifest(s, d)
      .select(col("id").as("src_id"),
        md5(concat(col("id"), lit(":"), col("content_hash"))).as("vec_file_id"))
    val delta = manifestDelta(s, d).filter(col("status") =!= "unchanged")
      .select(col("id"), col("content_hash"))
    store.join(delta, store("src_id") === delta("id"), "left_anti")
      .select(col("src_id"), col("vec_file_id"), lit("retained").as("provenance"))
      .unionAll(delta.select(col("id").as("src_id"),
        md5(concat(col("id"), lit(":"), col("content_hash"), lit(":v2"))).as("vec_file_id"),
        lit("upserted").as("provenance")))
      .orderBy(col("src_id"))
  }

  val upsertStateSql: String =
    s"""WITH ${Tables.manifestSql}, ${Tables.currentSql},
       |delta AS (
       |  SELECT c.id, c.content_hash
       |  FROM current c LEFT JOIN manifest m ON m.id = c.id
       |  WHERE m.id IS NULL OR m.content_hash <> c.content_hash
       |     OR m.last_edited <> c.last_edited
       |), store AS (
       |  SELECT id AS src_id, md5(id || ':' || content_hash) AS vec_file_id
       |  FROM manifest
       |)
       |SELECT src_id, vec_file_id, 'retained' AS provenance
       |FROM store WHERE src_id NOT IN (SELECT id FROM delta)
       |UNION ALL
       |SELECT id, md5(id || ':' || content_hash || ':v2'), 'upserted' FROM delta
       |ORDER BY src_id""".stripMargin

  /** Flagship composed pipeline (reference run_etl, etl.py:617-779):
    * current crawl snapshot → manifest delta → chunk only the sources
    * that need re-vectorization → derive chunk ids. The incremental
    * skip (`status = 'unchanged'`) is what makes re-runs cheap: at
    * 100 TB a daily run re-chunks only the delta.
    */
  def incrementalChunks(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val delta = manifestDelta(s, d).filter(col("needs_vector"))
      .select(col("id"), col("content_hash"))
    val toChunk = Tables.documents(s, d)
      .join(delta, col("doc_id") === col("id"))
      .select(col("doc_id"), col("content_hash"), col("text")).as[DocWithHash]
    chunkLinearHashed(toChunk, ChunkLen).toDF()
      .select(
        sha2(concat(lit("/docs/"), col("doc_id"), lit("|"), col("content_hash"),
          lit("|"), col("chunk_index")), 256).as("chunk_id"),
        col("doc_id"), col("chunk_index"), col("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_index"))
  }

  /** q_media_meta — opaque-binary column plumbing (reference
    * extract_with_gpt takes pdf/image bytes, etl.py:254-301): payload
    * as binary, length, content digest, magic bytes, kind sniff. The
    * model-call itself is stubbed in [[graft.sources.MediaExtract]];
    * this query is the schema/metadata path.
    */
  def mediaMeta(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("digest"),
        lower(substring(hex(col("payload")), 1, 8)).as("magic"),
        when(octet_length(col("payload")) % 3 === 0, "image")
          .when(octet_length(col("payload")) % 3 === 1, "audio")
          .otherwise("video").as("kind"))
      .orderBy(col("doc_id"))

  val mediaMetaSql: String =
    """WITH m AS (SELECT doc_id, encode(text) AS payload FROM documents)
      |SELECT doc_id, octet_length(payload)::BIGINT AS n_bytes,
      |       md5(payload::VARCHAR) AS digest,
      |       lower(substr(hex(payload), 1, 8)) AS magic,
      |       CASE WHEN octet_length(payload) % 3 = 0 THEN 'image'
      |            WHEN octet_length(payload) % 3 = 1 THEN 'audio'
      |            ELSE 'video' END AS kind
      |FROM m ORDER BY doc_id""".stripMargin
}
