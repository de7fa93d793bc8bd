package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{UrlOps, WebOps}

/** Document-format extraction family: raw crawled formats → training
  * text (and their sidecar indexes). Fixtures follow the round-trip-
  * gate idiom (FIXTURES.md): the Spark side BUILDS each document from
  * table rows and runs the real extractor; the oracle replays only the
  * original-row arithmetic (the expected text as a closed form), so
  * any extractor drift breaks the hash without the oracle parsing a
  * byte of markup.
  */
object DocExtractQueries extends QueryPack {

  private val bs = "\\" // one backslash — TeX source built via lit(),
                        // never through SQL-literal escape parsing

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // LaTeX → TEXT (functions.TexText) — the arXiv extraction mile.
    // Each doc becomes a real .tex source exercising every rule class
    // in one pass: comment stripping (incl. the %-splice), preamble
    // arg-dropping (documentclass/usepackage), sectioning unwrap with
    // block separators (title/section incl. the [short]-title form),
    // inline-command unwrap (emph/textbf), footnote-as-aside, BOTH
    // math forms by doc parity ($…$ vs \[…\]) collapsing to the same
    // [MATH] placeholder, float-environment dropping (figure with
    // includegraphics+caption), verbatim literality (% and $ kept),
    // \cite dropping, accent decoding (r\'esum\'e), \url literality
    // (%7E survives), and the \end{document} stop. The oracle states
    // the expected extraction as a closed form of (doc_id, first word,
    // source) — it never sees TeX.
    "web_tex_extract" -> ((s, dir) => {
      val did = col("doc_id").cast("string")
      val w0 = element_at(split(trim(col("text")), "\\s+"), 1)
      val nl = lit("\n")
      val tex = concat(
        lit("% arXiv-style header\n"),
        lit(bs + "documentclass[11pt]{article}\n"),
        lit(bs + "usepackage[utf8]{inputenc}\n"),
        lit(bs + "title{Doc "), did, lit("}\n"),
        lit(bs + "begin{document}\n"),
        lit(bs + "maketitle\n"),
        lit(bs + "section[short]{Intro "), did, lit("}\n"),
        lit("We study " + bs + "emph{"), w0,
        lit("} systems" + bs + "footnote{see "), col("source"), lit("}.\n"),
        when(col("doc_id") % 2 === 0,
          concat(lit("Let $x_{"), did, lit("} = 0$ hold.\n")))
          .otherwise(
            concat(lit("Let " + bs + "[ y^{"), did,
              lit("} " + bs + "] hold.\n"))),
        lit("r" + bs + "'esum" + bs + "'e " + bs + "textbf{"), w0,
        lit("} " + bs + "cite{k"), did, lit("} ends.\n"),
        lit(bs + "begin{figure}\n"),
        lit(bs + "includegraphics[width=2cm]{f.png}\n"),
        lit(bs + "caption{dropped "), did, lit("}\n"),
        lit(bs + "end{figure}\n"),
        lit(bs + "begin{verbatim}\nraw % kept $"), did,
        lit("$\n" + bs + "end{verbatim}\n"),
        lit("Visit " + bs + "url{http://ex.org/%7E"), did,
        lit("} today.\n"),
        lit(bs + "end{document}\n"),
        lit("IGNORED TRAILING "), did, nl)
      Tables.documents(s, dir)
        .withColumn("text_out", call_function("tex_text", tex))
        .select(col("doc_id"), col("text_out"),
          length(col("text_out")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // WAT SIDECAR ingestion (the Common Crawl metadata companion):
    // each doc's envelope JSON (target URI, page title, outlinks) is
    // built with to_json (real JSON escaping), wrapped as a WARC
    // `metadata` record (Content-Type: application/json, NO HTTP
    // layer), record-at-time gzipped into crawl files, then read back
    // through the SAME WarcParse seam as responses — warc_records →
    // filter metadata → from_json → explode Links. The oracle states
    // title and both link rows as closed forms of (doc_id, text,
    // source); any drift in WARC framing of non-HTTP payloads, the
    // JSON round trip, or link explosion breaks the hash.
    "web_wat_extract" -> ((s, dir) => {
      val docUrl = WebOps.syntheticUrl(col("doc_id"), col("source"))
      val w0 = element_at(split(trim(col("text")), "\\s+"), 1)
      val title = concat(lit("Doc "), col("doc_id").cast("string"),
        lit(": "), w0)
      val links = array(
        struct(lit("A@/href").as("path"),
          concat(lit("https://"), UrlOps.hostOf(docUrl), lit("/doc/"),
            (col("doc_id") + 1).cast("string")).as("url")),
        struct(lit("A@/href").as("path"),
          concat(lit("/rel/"), col("doc_id").cast("string")).as("url")))
      val watJson = to_json(struct(struct(
        struct(docUrl.as("WARC-Target-URI"), lit("response").as("WARC-Type"))
          .as("WARC-Header-Metadata"),
        struct(struct(struct(
          struct(title.as("Title")).as("Head"), links.as("Links"))
          .as("HTML-Metadata")).as("HTTP-Response-Metadata"))
          .as("Payload-Metadata")).as("Envelope")))
      val watRecord = concat(
        lit("WARC/1.0\r\nWARC-Type: metadata\r\nWARC-Record-ID: <urn:graft:"),
        col("doc_id").cast("string"),
        lit(">\r\nWARC-Target-URI: "), docUrl,
        lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"),
        lit("Content-Type: application/json\r\nContent-Length: "),
        octet_length(watJson.cast("binary")).cast("string"),
        lit("\r\n\r\n"), watJson, lit("\r\n\r\n")).cast("binary")
      val recs = Tables.documents(s, dir)
        .select(col("doc_id"), watRecord.as("rec"))
      val files = WebOps.buildCrawlFiles(recs, col("doc_id"), col("rec"),
        perFile = 5)
      val schema = "Envelope STRUCT<`WARC-Header-Metadata` STRUCT<" +
        "`WARC-Target-URI` STRING, `WARC-Type` STRING>, " +
        "`Payload-Metadata` STRUCT<`HTTP-Response-Metadata` STRUCT<" +
        "`HTML-Metadata` STRUCT<Head STRUCT<Title STRING>, " +
        "Links ARRAY<STRUCT<path STRING, url STRING>>>>>>"
      WebOps.extractRecords(files, col("blob"))
        .filter(col("warc_type") === "metadata")
        .withColumn("env",
          from_json(col("payload").cast("string"), schema, Map.empty[String, String]))
        .withColumn("hm", col("env").getField("Envelope")
          .getField("Payload-Metadata").getField("HTTP-Response-Metadata")
          .getField("HTML-Metadata"))
        .select(
          regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1)
            .cast("long").as("doc_id"),
          col("target_uri"),
          col("hm").getField("Head").getField("Title").as("title"),
          posexplode(col("hm").getField("Links")).as(Seq("link_idx", "lk")))
        .select(col("doc_id"), col("target_uri"), col("title"),
          col("link_idx").cast("long").as("link_idx"),
          col("lk.url").as("link_url"))
        .orderBy(col("doc_id"), col("link_idx"))
    }),

    // CDX LOOKUP (the sorted url-key index of web archives): the index
    // side SURT-keys each doc's RAW archive url (extra :443, trailing
    // slash, utm param, fragment) through UrlOps.surtKey, renders real
    // space-delimited CDX-9ish lines, PARSES them back by splitting;
    // the query side canonicalizes a DIFFERENT raw variant of the same
    // url (unsorted query, different tracking param) to the same key
    // and looks it up with one equi-join on urlkey. The oracle replays
    // SURT (host-label reversal on the www-stripped canonical host),
    // every rendered field, and the match count — certifying
    // canonicalization, the line round trip, and the lookup join.
    "web_cdx_lookup" -> ((s, dir) => {
      val docUrl = WebOps.syntheticUrl(col("doc_id"), col("source"))
      val host = UrlOps.hostOf(docUrl)
      val did = col("doc_id").cast("string")
      val rawA = concat(lit("https://"), host, lit(":443/doc/"), did,
        lit("/?utm_source=x&b=2&a=1#frag"))
      val rawB = concat(lit("https://"), host, lit("/doc/"), did,
        lit("?b=2&utm_campaign=y&a=1"))
      val docs = Tables.documents(s, dir)
      val cdxLine = concat(
        UrlOps.surtKey(rawA), lit(" 20260101"),
        lpad(pmod(col("doc_id"), lit(1000000L)).cast("string"), 6, "0"),
        lit(" "), UrlOps.canonicalizeUrl(rawA),
        lit(" text/html 200 "),
        substring(md5(col("text").cast("binary")), 1, 8),
        lit(" "), length(col("text")).cast("string"),
        lit(" "), (col("doc_id") * 1000).cast("string"),
        lit(" crawl-"), expr("doc_id div 5").cast("string"),
        lit(".warc.gz"))
      // index side: render then PARSE back — the ingestion step
      val idx = docs.select(cdxLine.as("line"))
        .withColumn("f", split(col("line"), " "))
        .select(col("f").getItem(0).as("urlkey"),
          col("f").getItem(1).as("ts"),
          col("f").getItem(2).as("original"),
          col("f").getItem(4).cast("long").as("status"),
          col("f").getItem(5).as("digest"),
          col("f").getItem(6).cast("long").as("n_bytes"))
      val queries = docs.select(col("doc_id"),
        UrlOps.surtKey(rawB).as("qkey"))
      queries.join(idx, col("qkey") === col("urlkey"))
        .groupBy(col("doc_id"), col("qkey"))
        .agg(count(lit(1)).as("n_matches"),
          min(col("ts")).as("ts"), min(col("original")).as("original"),
          min(col("status")).as("status"), min(col("digest")).as("digest"),
          min(col("n_bytes")).as("n_bytes"))
        .select(col("doc_id"), col("qkey").as("urlkey"), col("n_matches"),
          col("ts"), col("original"), col("status"), col("digest"),
          col("n_bytes"))
        .orderBy(col("doc_id"))
    }))

  /** Oracle-side url/host replay (kept single-line for stripMargin —
    * mirrors WebOps.syntheticUrl).
    */
  private val hostSql =
    "CASE doc_id % 4 WHEN 0 THEN 'news.' || source || '.co.uk' " +
      "WHEN 1 THEN 'www.' || source || '.example.com' " +
      "WHEN 2 THEN source || '.example.org' " +
      "ELSE 'cdn.' || source || '.com.au' END"
  private val urlSql =
    s"'https://' || $hostSql || '/doc/' || CAST(doc_id AS VARCHAR)"

  override def oracle: Map[String, String] = Map(

    // title and both link rows stated as closed forms; link 0 is
    // host-absolute, link 1 stays relative (WAT links are verbatim)
    "web_wat_extract" ->
      s"""WITH d AS (SELECT doc_id, $urlSql AS target_uri, $hostSql AS host,
         |    'Doc ' || CAST(doc_id AS VARCHAR) || ': ' ||
         |      string_split_regex(trim(text), '\\s+')[1] AS title
         |  FROM documents)
         |SELECT doc_id, target_uri, title, CAST(0 AS BIGINT) AS link_idx,
         |  'https://' || host || '/doc/' || CAST(doc_id + 1 AS VARCHAR)
         |    AS link_url
         |FROM d
         |UNION ALL
         |SELECT doc_id, target_uri, title, CAST(1 AS BIGINT),
         |  '/rel/' || CAST(doc_id AS VARCHAR)
         |FROM d
         |ORDER BY doc_id, link_idx""".stripMargin,

    // SURT replay: canonical host (www-stripped) label-reversed; the
    // query variant matches exactly one index line per doc
    "web_cdx_lookup" ->
      s"""WITH d AS (SELECT doc_id, text,
         |    regexp_replace($hostSql, '^www\\.', '') AS chost
         |  FROM documents),
         |k AS (SELECT doc_id, text, chost,
         |    array_to_string(list_reverse(string_split(chost, '.')), ',') ||
         |      ')/doc/' || CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS urlkey
         |  FROM d)
         |SELECT doc_id, urlkey, CAST(1 AS BIGINT) AS n_matches,
         |  '20260101' || lpad(CAST(doc_id % 1000000 AS VARCHAR), 6, '0') AS ts,
         |  'https://' || chost || '/doc/' || CAST(doc_id AS VARCHAR) ||
         |    '?a=1&b=2' AS original,
         |  CAST(200 AS BIGINT) AS status,
         |  substr(md5(text), 1, 8) AS digest,
         |  CAST(length(text) AS BIGINT) AS n_bytes
         |FROM k ORDER BY doc_id""".stripMargin,

    // the expected extraction, stated as a closed form — both parity
    // branches collapse to the same [MATH] placeholder by design (a
    // broken \[…\] path would leak "y^{N}" and break the hash)
    "web_tex_extract" ->
      """WITH d AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS did,
        |    string_split_regex(trim(text), '\s+')[1] AS w0, source
        |  FROM documents),
        |e AS (SELECT doc_id,
        |  'Doc ' || did || ' Intro ' || did || ' We study ' || w0 ||
        |  ' systems see ' || source || ' . Let [MATH] hold. résumé ' ||
        |  w0 || ' ends. raw % kept $' || did ||
        |  '$ Visit http://ex.org/%7E' || did || ' today.' AS text_out
        |  FROM d)
        |SELECT doc_id, text_out,
        |  CAST(length(text_out) AS BIGINT) AS n_chars
        |FROM e ORDER BY doc_id""".stripMargin)
}
