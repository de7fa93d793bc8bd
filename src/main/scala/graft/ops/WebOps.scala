package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Web-crawl ingestion: WARC record assembly/parsing and HTML text
  * extraction — the first mile of a 100 TB training-data pipeline.
  * Everything downstream (dedup, quality, language-ID, tokenization)
  * consumes what these operators produce.
  *
  * The read path (`extractRecords` / `extractPages`) is the operator; the
  * write path (`buildRecord` / `buildCrawlFiles`) exists so correctness
  * is provable ROUND-TRIP on synthetic corpora: build byte-exact crawl
  * files from the documents table scan-side, read them back through the
  * full gzip→WARC→HTTP→HTML stack, and hash-compare the extracted fields
  * against the original rows — any drift anywhere in the stack breaks
  * the gate.
  *
  * Scale shape: crawl files parallelize per-file (Common Crawl writes
  * ~1 GiB segments precisely so that file granularity saturates a
  * cluster); within a file, records reduce to rows in one scan-side
  * projection chain (inflate → record parse → http split → html
  * extract), all codegen'd static calls — markup and headers are
  * discarded before the first shuffle.
  */
object WebOps {

  /** Deterministic synthetic URL for a document row — includes multi-part
    * public-suffix hosts so registered-domain grouping is exercised.
    */
  def syntheticUrl(docId: Column, source: Column): Column =
    concat(lit("https://"),
      when(pmod(docId, lit(4)) === 0, concat(lit("news."), source, lit(".co.uk")))
        .when(pmod(docId, lit(4)) === 1, concat(lit("www."), source, lit(".example.com")))
        .when(pmod(docId, lit(4)) === 2, concat(source, lit(".example.org")))
        .otherwise(concat(lit("cdn."), source, lit(".com.au"))),
      lit("/doc/"), docId.cast("string"))

  /** One WARC/1.0 `response` record (ISO 28500 framing) wrapping an HTTP
    * 200 response whose body is `html`. Pure expression chain — the
    * record is assembled as a string (all components here are ASCII or
    * UTF-8 text) and cast to binary at the end.
    *
    * `Content-Length` headers are BYTE lengths (`octet_length`), not
    * character counts — the framing authority for both layers.
    */
  def buildRecord(docId: Column, url: Column, html: Column): Column = {
    val httpHead = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\nContent-Length: "),
      octet_length(html.cast("binary")).cast("string"), lit("\r\n\r\n"))
    val payload = concat(httpHead, html)
    val warcHead = concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:graft:"),
      docId.cast("string"),
      lit(">\r\nWARC-Target-URI: "), url,
      lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"),
      lit("Content-Type: application/http; msgtype=response\r\nContent-Length: "),
      octet_length(payload.cast("binary")).cast("string"), lit("\r\n\r\n"))
    concat(warcHead, payload, lit("\r\n\r\n")).cast("binary")
  }

  /** [[buildRecord]] for BINARY bodies (PDF/DOCX/image payloads — a
    * string concat would mangle non-UTF-8 bytes): the HTTP and WARC
    * header blocks are built as strings, cast to binary, and
    * concatenated with the body at the byte level; `Content-Type` is
    * caller-supplied — the dispatch key the extraction side routes on.
    */
  def buildBinaryRecord(docId: Column, url: Column, body: Column,
                        contentType: Column): Column = {
    val httpHead = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: "), contentType,
      lit("\r\nContent-Length: "),
      octet_length(body).cast("string"), lit("\r\n\r\n")).cast("binary")
    val payload = concat(httpHead, body)
    val warcHead = concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:graft:"),
      docId.cast("string"),
      lit(">\r\nWARC-Target-URI: "), url,
      lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"),
      lit("Content-Type: application/http; msgtype=response\r\nContent-Length: "),
      octet_length(payload).cast("string"), lit("\r\n\r\n")).cast("binary")
    concat(warcHead, payload, lit("\r\n\r\n").cast("binary"))
  }

  /** [[buildRecord]] with the wire shapes real crawl captures carry:
    * `Transfer-Encoding: chunked` framing and/or `Content-Encoding:
    * gzip` — the response the HTTP split must DECODE, not pass through.
    * Chunk size varies with the doc so boundaries land mid-text;
    * the gzip member is the deterministic [[graft.functions.Gzip]]
    * builder, so the same blob is reconstructible for refusal audits.
    */
  def buildEncodedRecord(docId: Column, url: Column, html: Column,
                         chunked: Boolean, gzipBody: Boolean,
                         chunkSize: Int = 61): Column = {
    val raw = html.cast("binary")
    val entity = if (gzipBody) call_function("gzip_member", raw) else raw
    val wire = if (chunked)
      call_function("http_chunk_frame", entity, lit(chunkSize))
    else entity
    val httpHead = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"),
      if (gzipBody) lit("Content-Encoding: gzip\r\n") else lit(""),
      if (chunked) lit("Transfer-Encoding: chunked\r\n")
      else concat(lit("Content-Length: "),
        octet_length(entity).cast("string"), lit("\r\n")),
      lit("\r\n")).cast("binary")
    val payload = concat(httpHead, wire)
    val warcHead = concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:graft:"),
      docId.cast("string"),
      lit(">\r\nWARC-Target-URI: "), url,
      lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"),
      lit("Content-Type: application/http; msgtype=response\r\nContent-Length: "),
      octet_length(payload).cast("string"), lit("\r\n\r\n")).cast("binary")
    concat(warcHead, payload, lit("\r\n\r\n").cast("binary"))
  }

  /** [[buildRecord]] with a caller-supplied status line and extra HTTP
    * headers — redirects (3xx + `Location`), errors, and any other
    * non-200 response a crawl store actually contains.
    */
  def buildResponseRecord(docId: Column, url: Column, status: Column,
                          extraHeaders: Column, body: Column): Column = {
    val httpHead = concat(
      lit("HTTP/1.1 "), status, lit("\r\n"), extraHeaders,
      lit("Content-Type: text/html; charset=utf-8\r\nContent-Length: "),
      octet_length(body.cast("binary")).cast("string"), lit("\r\n\r\n"))
    val payload = concat(httpHead, body)
    val warcHead = concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:graft:"),
      docId.cast("string"),
      lit(">\r\nWARC-Target-URI: "), url,
      lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"),
      lit("Content-Type: application/http; msgtype=response\r\nContent-Length: "),
      octet_length(payload.cast("binary")).cast("string"), lit("\r\n\r\n"))
    concat(warcHead, payload, lit("\r\n\r\n")).cast("binary")
  }

  /** Bounded redirect-chain resolution — the frontier remap every crawl
    * pipeline runs before dedup/grouping (a page fetched at URL A that
    * 301s to B must be keyed by B, or the corpus double-counts every
    * moved site). Input `(url, status, loc)` rows; each of `maxHops`
    * rounds advances only the still-redirecting rows (301/302/303/307/
    * 308) through one equi-join on the Location target, everything else
    * passes through untouched. A chain that hasn't reached a 200 within
    * `maxHops` — loops, dead Locations, redirect walls — resolves to
    * null (refuse, don't follow forever: RFC 9110's anti-loop posture).
    *
    * Scale shape: the joined side is the redirect SUBSET (3xx rows are
    * a small fraction of any real crawl), each hop one bounded shuffle
    * keyed by URL; terminal rows never re-join.
    */
  def resolveRedirects(t: DataFrame, maxHops: Int = 3): DataFrame = {
    val redirecting = (c: Column) => c.isin(301, 302, 303, 307, 308)
    val base = t.select(col("url"), col("url").as("cur"),
      col("status").as("cur_status"), col("loc").as("cur_loc"),
      lit(0L).as("hops"))
    val targets = t.select(col("url").as("t_url"),
      col("status").as("t_status"), col("loc").as("t_loc"))
    val end = (1 to maxHops).foldLeft(base) { (st, _) =>
      val done = st.filter(!coalesce(redirecting(col("cur_status")), lit(false)))
      val stepped = st
        .filter(coalesce(redirecting(col("cur_status")), lit(false)))
        .join(targets, col("cur_loc") === col("t_url"), "left")
        .select(col("url"), col("cur_loc").as("cur"),
          col("t_status").as("cur_status"), col("t_loc").as("cur_loc"),
          (col("hops") + 1).as("hops"))
      done.unionByName(stepped)
    }
    end.select(col("url"),
      when(col("cur_status") === 200, col("cur")).as("final_url"),
      when(col("cur_status") === 200, col("hops")).as("n_hops"),
      coalesce(col("cur_status") === 200, lit(false)).as("resolved"))
  }

  /** Group per-document records into multi-record crawl files of
    * `perFile` records each (record-at-time gzip, members concatenated
    * in doc-id order — the Common Crawl layout). Returns
    * `(file_id, blob)`. The only shuffle of the write path, keyed by
    * file id; each group folds a bounded `perFile` members.
    */
  def buildCrawlFiles(records: DataFrame, docId: Column, record: Column,
      perFile: Int, codec: String = "gzip"): DataFrame = {
    val memberFn = codec match {
      case "gzip" => "gzip_member"
      case "zstd" => "zstd_frame" // record-at-time frames, same layout
      case other => throw new IllegalArgumentException(s"codec $other")
    }
    records
      .select((docId / perFile).cast("long").as("file_id"), docId.as("doc_id"),
        call_function(memberFn, record).as("member"))
      .groupBy(col("file_id"))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("doc_id"), col("member")))),
          s => s.getField("member")),
        lit(Array.empty[Byte]),
        (acc, m) => concat(acc, m)).as("blob"))
  }

  /** One WET-style `conversion` record (the pre-extracted-text layout
    * Common Crawl ships alongside raw responses): no HTTP layer, the
    * content block IS the page text.
    */
  def buildWetRecord(docId: Column, url: Column, text: Column): Column = {
    val warcHead = concat(
      lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Record-ID: <urn:graft:"),
      docId.cast("string"),
      lit(">\r\nWARC-Target-URI: "), url,
      lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"),
      lit("Content-Type: text/plain\r\nContent-Length: "),
      octet_length(text.cast("binary")).cast("string"), lit("\r\n\r\n"))
    concat(warcHead, text, lit("\r\n\r\n")).cast("binary")
  }

  /** Parse crawl files back to one row per record: inflate every member,
    * parse the WARC framing, split the HTTP message (null http fields
    * for non-HTTP payloads — WET conversion records, metadata records).
    * One projection chain per blob; explode only after records are
    * parsed.
    */
  def extractRecords(files: DataFrame, blob: Column): DataFrame = {
    files
      .select(explode(call_function("warc_records",
        call_function("decompress_any", blob))).as("rec"))
      .select(
        col("rec.warc_type").as("warc_type"),
        col("rec.record_id").as("record_id"),
        col("rec.target_uri").as("target_uri"),
        col("rec.warc_date").as("warc_date"),
        col("rec.content_length").as("content_length"),
        col("rec.payload").as("payload"),
        call_function("http_status", col("rec.payload")).as("http_status"),
        call_function("http_body", col("rec.payload")).as("body"),
        call_function("http_entity", col("rec.payload")).as("entity"),
        call_function("http_entity_verdict", col("rec.payload"))
          .as("entity_verdict"))
  }

  /** WET read path: `conversion` records' content blocks ARE the page
    * text — no HTTP split, no HTML extraction. The branch most corpus
    * consumers actually read (Common Crawl WET files).
    */
  def extractWetText(files: DataFrame, blob: Column): DataFrame =
    extractRecords(files, blob)
      .filter(col("warc_type") === "conversion")
      .select(col("record_id"), col("target_uri"),
        col("payload").cast("string").as("text"))

  /** The full first mile: crawl files → visible page text, one row per
    * successfully fetched page — `(record_id, target_uri, http_status,
    * text)`. A segment whose bytes don't inflate contributes zero rows
    * (the whole-or-refuse posture); run [[segmentAudit]] alongside to
    * COUNT what was refused and why — a mixed-codec dir (zstd segments
    * in a gzip pipeline) must fail loudly, not shrink silently.
    */
  def extractPages(files: DataFrame, blob: Column): DataFrame = {
    // the ENTITY, not the raw body: a chunked or gzip'd capture must
    // never leak framing/compressed bytes into corpus text — refusals
    // (entity_verdict != 'ok') contribute zero rows here
    extractRecords(files, blob)
      .filter(col("http_status") === 200 && col("entity_verdict") === "ok")
      .select(col("record_id"), col("target_uri"), col("http_status"),
        call_function("html_to_text", col("entity").cast("string")).as("text"))
  }

  /** [[extractPages]] with the WHATWG charset chain in front — the first
    * mile for the web that is NOT UTF-8. `extractPages`'s bare
    * `cast("string")` reads bytes as UTF-8, which silently mangles every
    * legacy page (a cp1252 `€` becomes U+FFFD); here each record's body
    * is transcoded first: `charset_detect` replays the browser
    * precedence chain (BOM → HTTP `Content-Type` charset → bounded meta
    * prescan → UTF-8 sniff → windows-1252 default) and `charset_decode`
    * maps the bytes through the WHATWG index. Same task grain as
    * [[extractPages]]: one scan-side projection per record, no extra
    * shuffle — charset handling must never change the plan shape.
    */
  def extractPagesCharset(files: DataFrame, blob: Column): DataFrame = {
    extractRecords(files, blob)
      .filter(col("http_status") === 200 && col("entity_verdict") === "ok")
      .withColumn("__ct",
        call_function("http_header", col("payload"), lit("Content-Type")))
      .withColumn("__txt", call_function("charset_decode", col("entity"),
        call_function("charset_detect", col("entity"), col("__ct"))))
      .select(col("record_id"), col("target_uri"), col("http_status"),
        call_function("html_to_text", col("__txt")).as("text"))
  }

  /** Per-segment QUARANTINE accounting — the loud-refusal companion to
    * [[extractPages]]: for every crawl file, its sniffed container codec
    * (`codec_probe`, [[graft.functions.Gzip.probe]] — gzip vs zstd frame/skippable
    * magic vs unknown), whether the segment is quarantined (unknown
    * codec, OR a gzip/zstd stream that fails the strict whole-or-refuse
    * decode — since round 10 both codecs DECODE, [[graft.functions.Zstd]]
    * from RFC 8878 spec), and the record count it contributes. One
    * scan-side projection per file, same task grain as extraction;
    * `sum(quarantined)` ≠ 0 is the signal a 100 TB ingest must ALERT on
    * rather than quietly processing the subset it could read.
    */
  /** WebDataset sample grouping — the tar-of-samples multimodal shard
    * layout: members sharing a basename STEM (everything before the
    * first dot of the BASENAME — `000.jpg` / `000.txt` / `000.json`;
    * dots in directory components don't split) form one training
    * sample; extensions are the modality keys. Emits one row per
    * sample with its sorted extension set, byte total, and a
    * completeness flag against `requiredExts` — the shard-QA view that
    * catches half-written samples before a loader 404s mid-epoch.
    *
    * Scale shape: one scan-side tar walk + explode per shard, one
    * aggregation keyed (shard, stem) — shards are independent tasks.
    */
  def webdatasetSamples(shards: DataFrame, idCol: Column, blob: Column,
                        requiredExts: Seq[String]): DataFrame = {
    shards
      .select(idCol.as("shard_id"),
        explode(call_function("tar_entries", blob)).as("__e"))
      .where(col("__e.typeflag") === "0")
      // WebDataset stem rule: split at the first dot AFTER the last
      // slash — a dotted directory (shard.v1/000.jpg) must not bleed
      // into the stem, so the dot scan applies to the basename only
      .select(col("shard_id"),
        regexp_extract(col("__e.name"), "^((?:.*/)?[^.]*)", 1)
          .as("sample_key"),
        expr("substring(__e.name, length(regexp_extract(__e.name, " +
          "'^((?:.*/)?[^.]*)', 1)) + 2)").as("__ext"),
        col("__e.size").as("__sz"))
      .groupBy(col("shard_id"), col("sample_key"))
      .agg(sort_array(collect_list(col("__ext"))).as("extensions"),
        count(lit(1)).cast("long").as("n_parts"),
        sum(col("__sz")).as("n_bytes"))
      .withColumn("complete",
        requiredExts.map(e => array_contains(col("extensions"), e))
          .reduce(_ && _))
  }

  /** WebDataset shard WRITER — the export half of the seam: one row
    * per (sample, member) in, one row per SHARD out, the shard being
    * a deterministic ustar archive (`tar_build`) whose members are
    * `<sampleKey>.<ext>` sorted by name — exactly the layout
    * [[webdatasetSamples]] and any stock WebDataset loader consume.
    * Shard assignment is the CALLER's column (hash, range, or
    * size-balanced — sharding policy is a curation decision, not a
    * sink default); within a shard, member order is name-sorted so a
    * shard written twice from the same rows is the same bytes.
    *
    * Scale shape: ONE aggregation keyed by shard (map-side partial on
    * the member structs), then the archive builds scan-side per shard
    * row — the blob never shuffles after construction, and shards of
    * WebDataset convention size (102–103 MB) stay far under the
    * [[graft.functions.TarBuild.MaxBytes]] guard. Duplicate member
    * names inside a shard refuse loudly (a silently dropped sample
    * would corrupt the training set).
    */
  def webdatasetWrite(samples: DataFrame, shardCol: Column,
                      sampleKeyCol: Column, extCol: Column,
                      blobCol: Column): DataFrame = {
    samples
      .select(shardCol.as("shard_id"),
        concat(sampleKeyCol, lit("."), extCol).as("__name"),
        blobCol.as("__data"))
      .groupBy(col("shard_id"))
      .agg(sort_array(collect_list(struct(
        col("__name").as("name"), col("__data").as("data"))))
        .as("__entries"))
      .select(col("shard_id"),
        call_function("tar_build", col("__entries")).as("shard"),
        size(col("__entries")).cast("long").as("n_members"))
      .withColumn("shard_bytes", length(col("shard")).cast("long"))
  }

  def segmentAudit(files: DataFrame, idCol: Column, blob: Column): DataFrame = {
    files
      .select(idCol.as("segment_id"), blob.as("__b"))
      .withColumn("codec", call_function("codec_probe", col("__b")))
      .withColumn("__payload",
        when(col("codec") === "gzip", call_function("gunzip_all", col("__b")))
          .when(col("codec") === "zstd", call_function("zunstd_all", col("__b")))
          .when(col("codec") === "bz2",
            call_function("bzip2_decompress", col("__b")))
          .when(col("codec") === "xz",
            call_function("xz_decompress", col("__b")))
          .when(col("codec") === "lz4",
            call_function("lz4_decompress", col("__b")))
          .when(col("codec") === "snappy",
            call_function("snappy_decompress", col("__b"))))
      .withColumn("quarantined",
        col("codec") === "unknown" || col("__payload").isNull)
      .withColumn("n_records",
        when(col("quarantined"), lit(0L)).otherwise(coalesce(
          size(call_function("warc_records", col("__payload"))).cast("long"),
          lit(0L))))
      .select(col("segment_id"), col("codec"), col("quarantined"),
        col("n_records"))
  }

  /** RFC 9309 robots verdict per URL — the politeness gate.
    *
    * `urls` must carry (`host`, `path`) columns; `robots` is one row
    * per host with its robots.txt content. Steps, all hosts-sized until
    * the final URL join:
    *  1. parse each file once (`robots_rules`, [[graft.functions.RobotsTxt.parse]]) and
    *     flatten to (host, agent, allow, path) rule rows;
    *  2. RFC group selection: a group naming `agent` exactly beats the
    *     `*` group, which beats nothing; losing groups are DISCARDED,
    *     never merged (RFC 9309 §2.2.1);
    *  3. join URLs to their host's surviving rules, score each rule
    *     with `robots_match_len` (wildcard/anchor-aware specificity);
    *  4. longest match wins, allow wins length ties (§2.2.2); no
    *     matching rule (or no robots at all) → allowed.
    *
    * Scale shape: steps 1-2 are one pass over the hosts table; step 3
    * shuffles URLs once by host (the join key a crawl frontier is
    * usually already partitioned by); step 4 is a max-struct agg — no
    * window, no sort.
    */
  def robotsFilter(urls: DataFrame, robots: DataFrame, agent: String): DataFrame = {
    // RFC group selection: the specific-agent rules of a host when any
    // exist, else its `*` group
    val rules = robots
      .select(col("host"),
        explode(call_function("robots_rules", col("txt"))).as("r"))
      .select(col("host"), col("r.agent").as("agent"),
        col("r.allow").as("allow"), col("r.path").as("rule_path"))
      .withColumn("rank",
        when(col("agent") === lit(agent.toLowerCase(java.util.Locale.ROOT)), 2)
          .when(col("agent") === "*", 1).otherwise(0))
      .filter(col("rank") > 0)
    val best = rules.groupBy(col("host")).agg(max(col("rank")).as("rank"))
    val group = rules.join(best, Seq("host", "rank"))
    val verdicts = urls
      .join(group, Seq("host"), "left")
      .withColumn("mlen",
        call_function("robots_match_len", col("rule_path"), col("path")))
      .withColumn("hit",
        when(col("mlen") >= 0,
          struct(col("mlen"), col("allow").cast("int").as("allow_i"))))
      .groupBy(urls.columns.map(col): _*)
      .agg(max(col("hit")).as("best"))
    verdicts.withColumn("allowed",
      coalesce(col("best.allow_i") === 1, lit(true)))
      .drop("best")
  }
}
