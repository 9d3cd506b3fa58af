package graft.queries

import graft.{Graft, QueryBlock, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators beyond the SURVEY §2 E-block core: the
  * frequency-based cleanup passes a web-crawl training pipeline runs
  * between raw extraction (e34) and document-level dedup (e01/e02).
  *
  * Scale notes (100 TB design point):
  *  - line-frequency stats are partial+final hash aggregates keyed on the
  *    line text — never a window over an unbounded per-line group (a
  *    boilerplate line appears in billions of documents; collect_set
  *    state over such a key would be unbounded);
  *  - reassembly groups by doc_id — bounded by document length;
  *  - everything else is scan-local projection.
  */
object Curation extends QueryBlock {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)
  private val scratch = graft.Graft.scratchDir

  /** Deterministic 4-file WARC/1.0 fixture built from the documents table
    * (genuine response records per the public WARC format — ISO 28500 /
    * IIPC WARC 1.0: version line, Type/Target-URI/Record-ID headers,
    * Content-Length, CRLF framing; records ordered by doc_id within each
    * file). Shared by e44 (batch ingest) and d16 (streaming ingest twin).
    * Returns the directory written.
    */
  def writeWarcFixture(s: SparkSession, dir: String): String = {
    // keyed by the source data dir (the d15 precedent): two data dirs in
    // one session must not overwrite each other's lazily-read fixture
    val warcDir = s"$scratch/warc_${new java.io.File(dir).getName}"
    val d = t(s, dir, "documents")
      .filter(col("text").isNotNull && col("doc_id") < 400)
      .select(col("doc_id"), col("source"), col("text"))
    val recs = d.withColumn("rec", concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://"),
        col("source"), lit(".example.com/p/"), col("doc_id"),
        lit("\r\nWARC-Record-ID: <urn:uuid:"), col("doc_id"),
        lit(">\r\nContent-Length: "), length(col("text")),
        lit("\r\n\r\n"), col("text"), lit("\r\n\r\n")))
      .withColumn("b", (col("doc_id") % 4).cast("int"))
    // fixture write: 4 bounded file-content rows (the e29 BMP-fixture
    // precedent) — the operator under test is the read side
    val files = recs.groupBy(col("b"))
      .agg(expr("array_join(transform(sort_array(collect_list(struct(doc_id, rec))), x -> x.rec), '')")
        .as("content"))
      .collect()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(warcDir))
    files.foreach { r =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$warcDir/bucket${r.getInt(0)}.warc"),
        r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    warcDir
  }

  /** Candidate-URL list fixture for d19 (the frontier's arrival shape:
    * link-extractor output lands as line-delimited URL lists): every
    * candidate URL of the e55 construction, one per line, bucketed into
    * 4 text files by doc_id so maxFilesPerTrigger=1 forces 4 triggers.
    * Returns the directory written.
    */
  def writeUrlListFixture(s: SparkSession, dir: String): String = {
    val urlDir = s"$scratch/urls_${new java.io.File(dir).getName}"
    val files = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"),
        concat(lit("https://"), col("source"), lit(".example.com/p/"),
          col("doc_id")).as("url"))
      .withColumn("b", (col("doc_id") % 4).cast("int"))
      .groupBy(col("b"))
      .agg(expr("array_join(transform(sort_array(collect_list(struct(doc_id, url))), x -> x.url), '\n')")
        .as("content"))
      .collect()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(urlDir))
    files.foreach { r =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$urlDir/urls${r.getInt(0)}.txt"),
        (r.getString(1) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    urlDir
  }

  /** The e55 global-bloom verdict oracle — shared verbatim by the d19
    * streaming twin (the stream's per-row verdict depends only on
    * (url, static bitmap), so batch and stream must agree exactly).
    */
  val bloomOracleSql: String =
    """WITH u AS (SELECT doc_id, source,
          'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url
        FROM documents WHERE text IS NOT NULL),
      seen AS (SELECT url FROM u WHERE doc_id < 300 AND source <> 'src19'),
      pos AS (SELECT substr(md5(url), 1, 3) AS p FROM seen
        UNION SELECT substr(md5(url), 4, 3) FROM seen
        UNION SELECT substr(md5(url), 7, 3) FROM seen)
      SELECT doc_id, url,
        (EXISTS(SELECT 1 FROM pos WHERE pos.p = substr(md5(u.url), 1, 3))
         AND EXISTS(SELECT 1 FROM pos WHERE pos.p = substr(md5(u.url), 4, 3))
         AND EXISTS(SELECT 1 FROM pos WHERE pos.p = substr(md5(u.url), 7, 3)))
          AS maybe_seen
      FROM u ORDER BY doc_id"""

  /** Sitemap fixture for e57 (public format: sitemaps.org XML protocol):
    * 4 `<urlset>` files bucketed by doc_id — each `<url>` carries loc /
    * lastmod / priority, with XML-escaped `&amp;` in query-string locs
    * and deliberately unnormalized locs (scheme/host case, default port)
    * — PLUS a `<sitemapindex>` file in the same directory that a correct
    * reader must recognize by root element and NOT emit URL rows from.
    * Returns the directory written.
    */
  def writeSitemapFixture(s: SparkSession, dir: String): String = {
    val smDir = s"$scratch/sitemap_${new java.io.File(dir).getName}"
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
      .withColumn("base", concat(lit("https://"), col("source"),
        lit(".example.com/p/"), col("doc_id")))
      .withColumn("loc",
        when(col("doc_id") % 5 === 0, concat(lit("HTTPS://"),
          upper(col("source")), lit(".Example.COM:443/p/"), col("doc_id")))
        .when(col("doc_id") % 7 === 0, concat(col("base"), lit("?a=1&amp;b=2")))
        .otherwise(col("base")))
      .withColumn("lm", concat(lit("2026-"),
        lpad((lit(1) + col("doc_id") % 12).cast("string"), 2, "0"), lit("-"),
        lpad((lit(1) + col("doc_id") % 28).cast("string"), 2, "0")))
      .withColumn("entry", concat(lit("<url><loc>"), col("loc"),
        lit("</loc><lastmod>"), col("lm"),
        lit("</lastmod><priority>0."), (col("doc_id") % 10).cast("int"),
        lit("</priority></url>\n")))
      .withColumn("b", (col("doc_id") % 4).cast("int"))
    val files = d.groupBy(col("b"))
      .agg(expr("array_join(transform(sort_array(collect_list(struct(doc_id, entry))), x -> x.entry), '')")
        .as("content"))
      .collect()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(smDir))
    files.foreach { r =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$smDir/sitemap${r.getInt(0)}.xml"),
        ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
          "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
          r.getString(1) + "</urlset>\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val index = (0 until 4).map(b =>
      s"<sitemap><loc>https://www.example.com/sitemap$b.xml</loc></sitemap>\n")
      .mkString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$smDir/sitemapindex.xml"),
      ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
        index + "</sitemapindex>\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    smDir
  }

  /** Scan-local sitemap projection (the e57/d20 read side): root-element
    * discrimination (`<urlset>` yields URL rows, `<sitemapindex>` yields
    * none), per-entry loc/lastmod/priority extraction, XML entity
    * unescape + url_normalize, typed lastmod/priority. Works identically
    * on a batch or streaming binaryFile relation.
    */
  def sitemapProject(raw: DataFrame): DataFrame =
    raw.select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
        col("content").cast("string").as("xml"))
      .filter(col("xml").contains("<urlset"))
      .select(col("fname"), posexplode(arrays_zip(
        regexp_extract_all(col("xml"), lit("<loc>([^<]+)</loc>"), lit(1)),
        regexp_extract_all(col("xml"), lit("<lastmod>([^<]+)</lastmod>"), lit(1)),
        regexp_extract_all(col("xml"), lit("<priority>([^<]+)</priority>"), lit(1)))))
      .select(col("fname"), col("pos"),
        expr("url_normalize(replace(col['0'], '&amp;', '&'))").as("url"),
        to_date(col("col.1"), "yyyy-MM-dd").as("lastmod"),
        col("col.2").cast("double").as("priority"))

  /** The e57 sitemap-ingest construction oracle — shared verbatim by the
    * d20 streaming twin (per-row output depends only on the file's own
    * bytes, so batch and stream must extract identical rows).
    */
  val sitemapOracleSql: String =
    """WITH d AS (SELECT doc_id, source, CAST(doc_id % 4 AS INT) AS b,
          'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS base
        FROM documents WHERE text IS NOT NULL),
      x AS (SELECT doc_id, b,
          CASE WHEN doc_id % 5 = 0 THEN base
               WHEN doc_id % 7 = 0 THEN base || '?a=1&b=2'
               ELSE base END AS url,
          CAST('2026-' || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0')
            || '-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') AS DATE) AS lastmod,
          CAST(doc_id % 10 AS DOUBLE) / 10 AS priority
        FROM d)
      SELECT 'sitemap' || CAST(b AS VARCHAR) || '.xml' AS fname,
        CAST(row_number() OVER (PARTITION BY b ORDER BY doc_id) - 1 AS INT) AS pos,
        url, lastmod, priority
      FROM x ORDER BY fname, pos"""

  /** Scan-local WARC record parse (the e44/d16 read side): record split on
    * the version magic, header regexes, payload sliced by CONTENT-LENGTH.
    * Works identically on a batch or streaming binaryFile relation.
    */
  def parseWarc(raw: DataFrame): DataFrame = {
    val clen = regexp_extract(col("col"), "Content-Length: ([0-9]+)", 1)
      .cast("int")
    raw.select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
        col("content").cast("string").as("c"))
      .select(col("fname"), posexplode(split(col("c"), "WARC/1\\.0\r\n")))
      .filter(length(col("col")) > 0)
      .select(col("fname"), (col("pos") - 1).cast("int").as("rec"),
        regexp_extract(col("col"), "WARC-Target-URI: ([^\r]+)", 1).as("uri"),
        clen.as("clen"),
        col("col").substr(instr(col("col"), "\r\n\r\n") + 4, clen).as("payload"))
  }

  /** Per-record-gzip `.warc.gz` fixture (the CommonCrawl layout) for e44b:
    * the same 400 documents as the e44 fixture, but each record is its own
    * RFC 1952 gzip member, members concatenated into 4 bucket files — and
    * each record payload carries a charset-specific non-ASCII marker,
    * encoded in the charset its Content-Type header declares (doc_id % 3:
    * UTF-8 / ISO-8859-1 / windows-1252). The cp1252 marker bytes 0x80/0x96
    * decode DIFFERENTLY under latin-1, so a reader that ignores the
    * declared charset fails the oracle. Content-Length is the PAYLOAD BYTE
    * length (≠ char length for the non-ASCII tail). Fixture written with
    * JDK GZIPOutputStream (one member per record, bounded driver loop —
    * the writeWarcFixture precedent; the operator under test is the read
    * side). Returns the directory written.
    */
  val gzMarkers: Seq[(String, String)] = Seq(
    "UTF-8" -> " café €10",          // 12 bytes in UTF-8
    "ISO-8859-1" -> " café ±1",      // 8 bytes in latin-1
    "windows-1252" -> " café €–") // 8 bytes in cp1252

  def writeWarcGzFixture(s: SparkSession, dir: String): String = {
    val warcDir = s"$scratch/warcgz_${new java.io.File(dir).getName}"
    val rows = t(s, dir, "documents")
      .filter(col("text").isNotNull && col("doc_id") < 400)
      .select(col("doc_id"), col("source"), col("text"))
      .collect().sortBy(_.getLong(0))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(warcDir))
    val streams = Array.tabulate(4)(b => new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(s"$warcDir/bucket$b.warc.gz")))
    try rows.foreach { r =>
      val (docId, source, text) = (r.getLong(0), r.getString(1), r.getString(2))
      val (csName, marker) = gzMarkers((docId % 3).toInt)
      val payload = (text + marker).getBytes(java.nio.charset.Charset.forName(csName))
      val head = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: https://$source.example.com/p/$docId\r\n" +
        s"WARC-Record-ID: <urn:uuid:$docId>\r\n" +
        s"Content-Type: text/html; charset=$csName\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n")
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      // one self-contained gzip member per record (closing the member's
      // GZIPOutputStream also ends its Deflater; the bucket stream just
      // concatenates the finished member bytes)
      val member = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(member)
      gz.write(head); gz.write(payload); gz.write("\r\n\r\n".getBytes)
      gz.close()
      streams((docId % 4).toInt).write(member.toByteArray)
    } finally streams.foreach(_.close())
    warcDir
  }

  /** CDX-index fixture for e51: WARC response records whose payloads are
    * FULL HTTP responses (status line + Content-Type + Content-Length +
    * body — how CommonCrawl response records actually wrap pages; the
    * other WARC fixtures carry bare bodies), plus a WARC-Date header.
    * Status, MIME, and date are deterministic construction arithmetic on
    * doc_id, so the oracle re-derives every field — including each
    * record's BYTE OFFSET and length, via a window sum over the same
    * record strings the writer concatenates. The fixture text is ASCII
    * (the e44 precedent), so both engines' char lengths equal the byte
    * count the offset walk advances by. Returns the directory written.
    */
  def writeWarcCdxFixture(s: SparkSession, dir: String): String = {
    val warcDir = s"$scratch/cdx_${new java.io.File(dir).getName}"
    val d = t(s, dir, "documents")
      .filter(col("text").isNotNull && col("doc_id") < 400)
      .select(col("doc_id"), col("source"), col("text"))
      .withColumn("statusline", expr(
        """CASE doc_id % 7 WHEN 0 THEN '404 Not Found'
             WHEN 1 THEN '301 Moved Permanently' ELSE '200 OK' END"""))
      .withColumn("mime", expr(
        """CASE doc_id % 3 WHEN 0 THEN 'text/html'
             WHEN 1 THEN 'text/plain' ELSE 'application/json' END"""))
      .withColumn("wdate", expr(
        """concat('2026-08-', lpad(CAST(doc_id % 28 + 1 AS STRING), 2, '0'),
             'T', lpad(CAST(doc_id % 24 AS STRING), 2, '0'),
             ':', lpad(CAST(doc_id % 60 AS STRING), 2, '0'),
             ':', lpad(CAST(doc_id * 7 % 60 AS STRING), 2, '0'), 'Z')"""))
    val http = concat(lit("HTTP/1.1 "), col("statusline"),
      lit("\r\nContent-Type: "), col("mime"),
      lit("\r\nContent-Length: "), length(col("text")),
      lit("\r\n\r\n"), col("text"))
    val recs = d.withColumn("rec", concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://"),
        col("source"), lit(".example.com/p/"), col("doc_id"),
        lit("\r\nWARC-Date: "), col("wdate"),
        lit("\r\nWARC-Record-ID: <urn:uuid:"), col("doc_id"),
        lit(">\r\nContent-Length: "), length(http),
        lit("\r\n\r\n"), http, lit("\r\n\r\n")))
      .withColumn("b", (col("doc_id") % 4).cast("int"))
    val files = recs.groupBy(col("b"))
      .agg(expr("array_join(transform(sort_array(collect_list(struct(doc_id, rec))), x -> x.rec), '')")
        .as("content"))
      .collect()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(warcDir))
    files.foreach { r =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$warcDir/cdx${r.getInt(0)}.warc"),
        r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    warcDir
  }

  /** Tar-shard fixture dir for e52 (writer IS the operator under test's
    * write side — `operators.TarShards.writeShards`, a distributed
    * streaming foreachPartition): all non-null documents, 8 shards keyed
    * `doc_id % 8`. Keyed by the source data dir (the d15 precedent).
    */
  def writeTarShardsFixture(s: SparkSession, dir: String): String = {
    val outDir = s"$scratch/tar_${new java.io.File(dir).getName}"
    graft.operators.TarShards.writeShards(
      t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("text")),
      outDir, 8)
    outDir
  }

  /** The e51 CDX projection over WarcCdx.parse output: SURT url key,
    * 14-digit timestamp, HTTP envelope fields (status/MIME parsed from
    * the payload), body digest, and the record's offset/length — all
    * column algebra (regexp + substr + split/reverse, codegen'd).
    * Shared by e51 (batch) and d18 (streaming ingest twin).
    */
  def cdxProject(recs: DataFrame): DataFrame = {
    val body = col("payload").substr(
      instr(col("payload"), "\r\n\r\n") + lit(4), length(col("payload")))
    recs.select(
      graft.operators.WarcCdx.surtKey(col("uri")).as("urlkey"),
      regexp_replace(col("wdate"), "[-T:Z]", "").as("ts"),
      col("uri"),
      regexp_extract(col("payload"), "Content-Type: ([^\r]+)", 1).as("mime"),
      regexp_extract(col("payload"), "^HTTP/1\\.1 ([0-9]+)", 1)
        .cast("int").as("status"),
      sha2(body, 256).as("digest"),
      col("rlen"), col("offset").as("roff"), col("fname"), col("rec"))
  }

  /** Construction oracle for the CDX index (e51/d18): rebuilds the same
    * record strings the fixture writer concatenates, then derives each
    * record's offset as a window sum over the lengths of its file
    * predecessors — so a walk that mis-frames a single CRLF fails.
    */
  val cdxOracleSql: String =
    """WITH nlc AS (SELECT chr(13) || chr(10) AS nl),
        d AS (SELECT doc_id, source, text, CAST(doc_id % 4 AS INT) AS b,
            CASE doc_id % 7 WHEN 0 THEN '404 Not Found'
              WHEN 1 THEN '301 Moved Permanently' ELSE '200 OK' END AS statusline,
            CASE doc_id % 7 WHEN 0 THEN 404 WHEN 1 THEN 301 ELSE 200 END AS status,
            CASE doc_id % 3 WHEN 0 THEN 'text/html'
              WHEN 1 THEN 'text/plain' ELSE 'application/json' END AS mime,
            '2026-08-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
              'T' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') ||
              ':' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') ||
              ':' || lpad(CAST(doc_id * 7 % 60 AS VARCHAR), 2, '0') || 'Z' AS wdate
          FROM documents WHERE text IS NOT NULL AND doc_id < 400),
        h AS (SELECT d.*, nlc.nl,
            'HTTP/1.1 ' || statusline || nl || 'Content-Type: ' || mime || nl ||
            'Content-Length: ' || CAST(length(text) AS VARCHAR) || nl || nl || text AS http
          FROM d, nlc),
        r AS (SELECT h.*,
            'WARC/1.0' || nl || 'WARC-Type: response' || nl ||
            'WARC-Target-URI: https://' || source || '.example.com/p/' ||
              CAST(doc_id AS VARCHAR) || nl ||
            'WARC-Date: ' || wdate || nl ||
            'WARC-Record-ID: <urn:uuid:' || CAST(doc_id AS VARCHAR) || '>' || nl ||
            'Content-Length: ' || CAST(length(http) AS VARCHAR) || nl || nl ||
            http || nl || nl AS rec_str
          FROM h),
        o AS (SELECT *,
            CAST(row_number() OVER (PARTITION BY b ORDER BY doc_id) - 1 AS INT) AS rec,
            CAST(coalesce(sum(length(rec_str)) OVER (PARTITION BY b ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS roff,
            CAST(length(rec_str) AS BIGINT) AS rlen
          FROM r)
        SELECT 'com,example,' || source || ')/p/' || CAST(doc_id AS VARCHAR) AS urlkey,
          regexp_replace(wdate, '[-T:Z]', '', 'g') AS ts,
          'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS uri,
          mime, status, sha256(text) AS digest, rlen, roff,
          'cdx' || CAST(b AS VARCHAR) || '.warc' AS fname, rec
        FROM o ORDER BY fname, rec"""

  /** Crawl-pipeline fixture for e47 (VERDICT r8 item 2): a WARC corpus
    * whose payloads are HTML pages with the e40 line structure — planted
    * boilerplate (universal header/footer, cookie line on even doc_ids)
    * around 8-token content lines, each line a `<p>` element with spaces
    * entity-encoded — plus planted EXACT DUPLICATES: every doc_id%10==7
    * page appears twice (once at /p/<id>, once at /dup/<id> under rec_id
    * 10000+<id>), so the dedup stage has real work whose ground truth is
    * construction arithmetic. Written as 4 .warc files bucketed by
    * rec_id % 4, records ordered by rec_id within a file (the
    * writeWarcFixture mechanism; the operators under test are all on the
    * read side). Returns the directory written.
    */
  def writeCrawlWarcFixture(s: SparkSession, dir: String): String = {
    val warcDir = s"$scratch/crawl_${new java.io.File(dir).getName}"
    val base = t(s, dir, "documents")
      .filter(col("text").isNotNull && col("doc_id") < 400)
      .select(col("doc_id"), col("source"), col("text"))
      .withColumn("html", expr(
        """concat(
             '<html><head><script>var x = 1 < 2;</script><style>p { color: #fff; }</style></head><body>',
             array_join(transform(
               concat(
                 array('subscribe to our newsletter'),
                 transform(sequence(0, CAST((size(split(text, ' ')) - 1) / 8 AS INT)),
                   i -> array_join(slice(split(text, ' '), i * 8 + 1, 8), ' ')),
                 array('all rights reserved'),
                 if(doc_id % 2 = 0, array('cookie policy accept'), array())),
               l -> concat('<p>', replace(l, ' ', '&nbsp;'), '</p>')), ''),
             '<!-- footer --></body></html>')"""))
    val orig = base.select(col("doc_id").as("rec_id"),
      concat(lit("https://"), col("source"), lit(".example.com/p/"),
        col("doc_id")).as("uri"),
      col("html"))
    val dup = base.filter(col("doc_id") % 10 === 7)
      .select((col("doc_id") + 10000L).as("rec_id"),
        concat(lit("https://"), col("source"), lit(".example.com/dup/"),
          col("doc_id")).as("uri"),
        col("html"))
    val recs = orig.unionByName(dup)
      .withColumn("rec", concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        col("uri"),
        lit("\r\nWARC-Record-ID: <urn:uuid:"), col("rec_id"),
        lit(">\r\nContent-Length: "), length(col("html")),
        lit("\r\n\r\n"), col("html"), lit("\r\n\r\n")))
      .withColumn("b", (col("rec_id") % 4).cast("int"))
    val files = recs.groupBy(col("b"))
      .agg(expr("array_join(transform(sort_array(collect_list(struct(rec_id, rec))), x -> x.rec), '')")
        .as("content"))
      .collect()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(warcDir))
    files.foreach { r =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$warcDir/bucket${r.getInt(0)}.warc"),
        r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    warcDir
  }

  // --- e47/d17 shared crawl-pipeline stages -------------------------------

  /** uri+payload rows → rec_id / domain / path (the crawl fixture's URI
    * scheme: /p/<id> originals, /dup/<id> duplicates at rec_id 10000+id).
    */
  private[queries] def crawlRecs(parsed: DataFrame): DataFrame = parsed
    .select(col("uri"), col("payload"))
    .withColumn("rec_id", expr(
      "CAST(regexp_extract(uri, '([0-9]+)$', 1) AS BIGINT) + IF(uri LIKE '%/dup/%', 10000, 0)"))
    .withColumn("domain", regexp_extract(col("uri"), "https://([^/]+)/", 1))
    .withColumn("path", regexp_extract(col("uri"), "https://[^/]+(/.*)$", 1))

  /** e46 robots stage over the fixture's rule set (all 20 sources
    * disallow /p/1 with an /p/12 allow override): broadcast rules join +
    * RFC 9309 longest-prefix max(struct) verdict; keeps allowed rows.
    */
  private[queries] def crawlRobotsAllowed(s: SparkSession, recs: DataFrame): DataFrame = {
    import s.implicits._
    val rules = (for (i <- 0 until 20; r <- Seq(
        (s"src$i.example.com", "/p/1", false),
        (s"src$i.example.com", "/p/12", true)))
      yield r).toDF("domain", "prefix", "allow")
    val verdict = recs.join(broadcast(rules), Seq("domain"))
      .filter(col("path").startsWith(col("prefix")))
      .groupBy(col("rec_id").as("m_id"))
      .agg(max(struct(length(col("prefix")).as("len"),
        col("allow").as("allow"))).as("m"))
    recs.join(verdict, col("rec_id") === col("m_id"), "left")
      .filter(coalesce(col("m.allow"), lit(true)))
      .select(col("rec_id"), col("uri"), col("payload"))
  }

  /** e34 strip stage, line-preserving variant: `</p>` → '\n' BEFORE the
    * generic tag strip so line structure survives into the line-dedup
    * stage; tags strip to '' (padding spaces would corrupt line
    * identity).
    */
  private[queries] def crawlStrip(allowed: DataFrame): DataFrame = allowed
    .withColumn("cleaned", expr(
      """trim(BOTH '\n' FROM
           replace(
             regexp_replace(
               replace(
                 regexp_replace(
                   regexp_replace(payload, '(?s)<script[^>]*>.*?</script>', ''),
                   '(?s)<style[^>]*>.*?</style>', ''),
                 '</p>', '\n'),
               '(?s)<!--.*?-->|<[^>]+>', ''),
             '&nbsp;', ' '))"""))
    .select(col("rec_id"), col("uri"),
      length(col("payload")).as("n_raw"),
      length(col("cleaned")).as("n_clean"), col("cleaned"))

  /** The e44/d16 shared oracle: every record field re-derived from the
    * fixture's construction arithmetic (full payload included).
    */
  val warcOracleSql: String =
    """WITH d AS (SELECT doc_id, source, text, doc_id % 4 AS b
        FROM documents WHERE text IS NOT NULL AND doc_id < 400)
      SELECT 'bucket' || CAST(b AS VARCHAR) || '.warc' AS fname,
        CAST(row_number() OVER (PARTITION BY b ORDER BY doc_id) - 1 AS INT) AS rec,
        'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS uri,
        CAST(length(text) AS INT) AS clen,
        text AS payload
      FROM d ORDER BY fname, rec"""

  /** One 2-page PDF per document (doc_id < 40, bounded build), with a
    * doc_id%5 structural/token variant per file — plain Tj, flate +
    * indirect /Length, TJ-kerning split under a nested page tree, hex
    * strings across a split /Contents array, escape classes + the '
    * newline operator. Shared by e72 (batch) and d22 (streaming twin).
    * Returns the directory written.
    */
  def writePdfFixture(s: SparkSession, dir: String): String = {
    import graft.operators.PdfText
    val pdfDir = s"$scratch/pdf_${new java.io.File(dir).getName}"
    val fd = new java.io.File(pdfDir)
    if (fd.exists()) fd.listFiles().foreach(_.delete())
    fd.mkdirs()
    def bt(ops: String): Array[Byte] =
      s"BT /F1 12 Tf 72 720 Td $ops ET"
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    def hex(t: String): String =
      t.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        .map(b => f"${b & 0xff}%02x").mkString
    t(s, dir, "documents").filter(col("text").isNotNull && col("doc_id") < 40)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 14)
      .collect().foreach { r =>
        val id = r.getLong(0)
        val toks = r.getSeq[String](1)
        val m = (id % 5).toInt
        val j1 = toks.slice(0, 8).mkString(" ")
        val l1 = toks.slice(8, 11).mkString(" ")
        val l2 = toks.slice(11, 14).mkString(" ")
        val page1: Seq[Array[Byte]] = m match {
          case 2 => Seq(bt(
            s"[(${PdfText.esc(j1.take(3))}) -30 (${PdfText.esc(j1.drop(3))})] TJ"))
          case 3 => Seq(
            s"BT /F1 12 Tf 72 720 Td <${hex(j1)}> Tj"
              .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1),
            "ET".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
          case 4 => Seq(bt(
            s"(\\101\\(B\\)\\\\C ) Tj (${PdfText.esc(j1)}) Tj (end.) '"))
          case _ => Seq(bt(s"(${PdfText.esc(j1)}) Tj"))
        }
        val page2 = bt(
          s"(${PdfText.esc(l1)}) Tj 0 -14 Td (${PdfText.esc(l2)}) Tj")
        val bytes = PdfText.makePdf(Seq(page1, Seq(page2)),
          flate = m == 1, indirectLength = m == 1, nestedPages = m == 2)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(f"$pdfDir/p$id%04d.pdf"), bytes)
      }
    pdfDir
  }

  /** binaryFile rows → (fname, page, text) via PdfText.extract — the
    * projection shared verbatim by e72 and the d22 streaming twin
    * (extraction is per-file, so the stream shares the batch oracle).
    */
  def pdfProject(s: SparkSession, raw: DataFrame): DataFrame = {
    val ex = udf((b: Array[Byte]) => graft.operators.PdfText.extract(b))
    raw.select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
        ex(col("content")).as("pages"))
      .select(col("fname"), posexplode(col("pages")))
      .select(col("fname"), col("pos").as("page"), col("col").as("text"))
    // no ORDER BY here: the streaming twin sorts after its sink
  }

  /** e72f's embedded-image PDF fixture: doc_id%3 rotates image-on-page-0,
    * image-on-PAGE-1 of a two-page doc, and a Flate-raster decoy (Im0)
    * beside the JPEG (Im1) that extraction must skip. Shared with the
    * d24 streaming twin.
    */
  def writePdfImageFixture(s: SparkSession, dir: String): String = {
    import graft.operators.{Multimodal, PdfText}
    val pdfDir = s"$scratch/pdf_img_${new java.io.File(dir).getName}"
    val fd = new java.io.File(pdfDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val A = java.nio.charset.StandardCharsets.ISO_8859_1
    t(s, dir, "documents")
      .filter(col("text").isNotNull &&
        col("doc_id") >= 245 && col("doc_id") < 285)
      .select(col("doc_id")).collect().foreach { r =>
        val id = r.getLong(0)
        val m = (id % 3).toInt
        val jp = Multimodal.makeJpegPixels(
          wBlocks = 2 + (id % 3).toInt, hBlocks = 1 + (id % 2).toInt,
          q0 = 1 + (id % 3).toInt, seed = 14000 + id)
        val w8 = (2 + (id % 3).toInt) * 8
        val h8 = (1 + (id % 2).toInt) * 8
        val body = (0 until 12)
          .map(i => ('a' + (id * 5 + i.toLong * 7) % 26).toChar).mkString
        def pg(t: String, im: String) =
          s"BT /F1 12 Tf 72 720 Td (${PdfText.esc(t)}) Tj ET $im Do".getBytes(A)
        val (pages, images) = m match {
          case 0 => (Seq(Seq(pg(body, "/Im0"))),
            Seq(Seq(PdfText.ImgSpec(w8, h8, jp))))
          case 1 => (Seq(Seq(pg(body, "/F1")), Seq(pg(body.reverse, "/Im0"))),
            Seq(Nil, Seq(PdfText.ImgSpec(w8, h8, jp))))
          case _ =>
            val raster = Array.tabulate(32)(i => ((id + i) % 128).toByte)
            (Seq(Seq(pg(body, "/Im1"))),
              Seq(Seq(PdfText.ImgSpec(8, 4, raster, dct = false),
                PdfText.ImgSpec(w8, h8, jp))))
        }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(f"$pdfDir/i$id%04d.pdf"),
          PdfText.makePdf(pages, pageImages = images))
      }
    pdfDir
  }

  /** binaryFile rows → one row per embedded JPEG with its decoded
    * luminance stats (extractImages → the e12 family's jpegGraySums) —
    * the projection shared by e72f and the d24 streaming twin.
    */
  def pdfImageProject(s: SparkSession, raw: DataFrame): DataFrame = {
    import graft.operators.{Multimodal, PdfText}
    val ex = udf((b: Array[Byte]) =>
      PdfText.extractImages(b).getOrElse(Seq.empty).flatMap { i =>
        Multimodal.jpegGraySums(i.jpeg).map { case (sum, npx, mn, mx) =>
          (i.page, i.name, i.width, i.height, sum, npx, mn, mx)
        }
      })
    raw.select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
        explode(ex(col("content"))).as("i"))
      .select(col("fname"), col("i._1").as("page"), col("i._2").as("name"),
        col("i._3").as("w"), col("i._4").as("ht"),
        col("i._6").as("n_px"),
        round(col("i._5").cast("double") / col("i._6"), 6).as("mean_lum"),
        col("i._7").as("min_lum"), col("i._8").as("max_lum"))
    // no ORDER BY here: the streaming twin sorts after its sink
  }

  /** The e72f/d24 oracle: locate the JPEG inside the PDF bytes by its
    * SOI+JFIF signature (a false anchor is impossible — every byte
    * before the image is 7-bit ASCII by construction, and FF-bytes in
    * JPEG entropy data are always stuffed), then run the e12l DC-chain
    * walk shifted by the anchor.
    */
  def pdfImageOracleSql: String = {
    // hb(k) = JPEG byte at 1-based offset k from the SOI anchor
    // (a = 0-based file offset of FFD8FFE0)
    def hb(k: String) =
      s"(strpos('123456789ABCDEF', substr(H, 2*(a + ($k)) - 1, 1))*16 + " +
        s"strpos('123456789ABCDEF', substr(H, 2*(a + ($k)), 1)))"
    def be16(k: Int) = s"(256*${hb(k.toString)} + ${hb((k + 1).toString)})"
    s"""WITH b AS (SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname,
        hex(content) AS H FROM read_blob('$scratch/pdf_img_${graft.queries.LlmPipeline.SfToken}/*.pdf')),
      an AS (SELECT fname, H, (strpos(H, 'FFD8FFE0') - 1) // 2 AS a,
        CAST(substr(fname, 2, 4) AS BIGINT) % 3 AS m FROM b),
      hdr AS (SELECT fname, H, a, m, ${be16(97)} AS w, ${be16(95)} AS ht,
        ${hb("26")} AS q0 FROM an),
      blk AS (SELECT fname, m, w, ht, q0, j,
        ${hb("157 + 2*j")} AS b0, ${hb("158 + 2*j")} AS b1
        FROM hdr, UNNEST(generate_series(0, (w // 8) * (ht // 8) - 1)) AS t(j)),
      dcs AS (SELECT fname, m, w, ht, q0, j,
        SUM(CASE WHEN (b0 % 128) * 2 + b1 // 128 < 128
          THEN (b0 % 128) * 2 + b1 // 128 - 255
          ELSE (b0 % 128) * 2 + b1 // 128 END)
          OVER (PARTITION BY fname ORDER BY j) AS dc
        FROM blk),
      vals AS (SELECT fname, m, w, ht,
        LEAST(255, GREATEST(0, CAST(round(128 + dc * q0 / 8.0, 0) AS INTEGER))) AS v
        FROM dcs)
      SELECT fname,
        CAST(CASE WHEN m = 1 THEN 1 ELSE 0 END AS INTEGER) AS page,
        CASE WHEN m = 2 THEN 'Im1' ELSE 'Im0' END AS name,
        CAST(w AS INTEGER) AS w, CAST(ht AS INTEGER) AS ht,
        CAST(w * ht AS BIGINT) AS n_px,
        round(CAST(64 * sum(v) AS DOUBLE) / (w * ht), 6) AS mean_lum,
        CAST(min(v) AS INTEGER) AS min_lum,
        CAST(max(v) AS INTEGER) AS max_lum
      FROM vals GROUP BY fname, m, w, ht ORDER BY fname"""
  }

  /** e76's per-page anchor fixture construction (base URL + planted
    * HTML) over a documents-shaped relation — shared with the d23
    * streaming twin. Works identically on batch and streaming inputs.
    */
  def anchorPages(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 6)
      .withColumn("base", concat(lit("https://"), col("source"),
        lit(".example.com/p/"), col("doc_id")))
      .withColumn("html", concat(
        lit("<body><a href=\"/p/"), col("doc_id") - col("doc_id") % 5,
        lit("\">"), array_join(slice(col("toks"), 1, 3), " "),
        lit("</a> mid <a href=\"../top\">see &amp; <b>"),
        element_at(col("toks"), 4),
        lit("</b></a><!-- <a href=\"/ghost\">no</a> -->"),
        lit("<a href=\"HTTPS://"), upper(col("source")),
        lit(".EXAMPLE.COM:443/abs/"), col("doc_id") % 7,
        lit("\">"), array_join(slice(col("toks"), 5, 2), " "),
        lit("</a></body>")))

  /** Anchor-text index over (base, html) pages: extract → resolve →
    * normalize → per-target count + sorted texts. Streaming-safe (no
    * sort; the callers order after their sink). The text list is
    * scalar-encoded (US-joined, the c18 convention) so the driver
    * oracle can hash the row — anchor texts never contain control
    * characters by construction.
    */
  def anchorIndex(pages: DataFrame): DataFrame =
    pages.select(col("base"), explode(expr("html_anchors(html)")).as("a"))
      .select(expr("url_normalize(url_resolve(base, a.href))").as("target"),
        col("a.text").as("text"))
      .groupBy(col("target"))
      .agg(count(lit(1)).cast("int").as("n_anchors"),
        array_join(sort_array(collect_list(col("text"))), "")
          .as("texts"))

  /** e76's construction oracle — shared by the d23 streaming twin. */
  val anchorOracleSql: String =
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks
        FROM documents WHERE text IS NOT NULL),
      f AS (SELECT doc_id, source, toks FROM d WHERE len(toks) >= 6),
      a AS (
        SELECT 'https://' || source || '.example.com/p/'
            || CAST(doc_id - doc_id % 5 AS VARCHAR) AS target,
          array_to_string(toks[1:3], ' ') AS text FROM f
        UNION ALL
        SELECT 'https://' || source || '.example.com/top',
          'see & ' || toks[4] FROM f
        UNION ALL
        SELECT 'https://' || source || '.example.com/abs/'
            || CAST(doc_id % 7 AS VARCHAR),
          array_to_string(toks[5:6], ' ') FROM f)
      SELECT target, CAST(count(*) AS INT) AS n_anchors,
        array_to_string(list(text ORDER BY text), chr(31)) AS texts
      FROM a GROUP BY target ORDER BY target"""

  /** e93/d27 shared: 5 archives × 8 members with stored/deflated
    * alternation and nested member paths. */
  def writeZipFixture(s: SparkSession, dir: String,
      pre: Option[Array[Long]] = None): String = {
    import graft.operators.ZipArchive
    val zDir = s"$scratch/zips_${new java.io.File(dir).getName}"
    val fd = new java.io.File(zDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val ids = fixtureIds(s, dir, 360, 400, pre)
    ids.grouped(8).zipWithIndex.foreach { case (group, g) =>
      val entries = group.toSeq.map { id =>
        val body = (0 until 30)
          .map(i => ('a' + (id * 3 + i.toLong * 11) % 26).toChar).mkString
        (s"docs/d$id.txt", body.getBytes("UTF-8"), id % 2 == 1)
      }
      // alternate framing per archive: classic 32-bit and zip64
      // (EOCD64 + masked central fields — VERDICT r10 item 4); member
      // content is identical, so the oracle is framing-independent and
      // a reader that mishandles either framing drops whole archives
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$zDir/z$g%02d.zip"),
        if (g % 2 == 0) ZipArchive.makeZip(entries)
        else ZipArchive.makeZip64(entries))
    }
    zDir
  }

  /** e93/d27 shared: binaryFile rows → one row per CRC-verified member. */
  def zipProject(raw: DataFrame): DataFrame = {
    val ex = udf((b: Array[Byte]) =>
      graft.operators.ZipArchive.members(b).getOrElse(Seq.empty).map(m =>
        (m.name, m.method, m.size, new String(m.data, "UTF-8"))))
    raw.select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
        explode(ex(col("content"))).as("m"))
      .select(col("fname"), col("m._1").as("member"),
        col("m._2").as("method"), col("m._3").as("n_bytes"),
        col("m._4").as("text"))
    // no ORDER BY here: the streaming twin sorts after its sink
  }

  /** The e93/d27 construction oracle. */
  val zipOracleSql: String =
    """WITH d AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
        FROM documents WHERE text IS NOT NULL
          AND doc_id >= 360 AND doc_id < 400)
      SELECT 'z' || lpad(CAST(rn // 8 AS VARCHAR), 2, '0') || '.zip' AS fname,
        'docs/d' || CAST(doc_id AS VARCHAR) || '.txt' AS member,
        CAST(CASE WHEN doc_id % 2 = 1 THEN 8 ELSE 0 END AS INTEGER) AS method,
        CAST(30 AS BIGINT) AS n_bytes,
        array_to_string(list_transform(generate_series(0, 29),
          i -> chr(CAST(97 + (doc_id * 3 + i * 11) % 26 AS INT))), '') AS text
      FROM d ORDER BY fname, member"""

  /** e98/d28 shared: 4 `.jsonl.zst` shards × 10 documents. Framing is
    * deliberately hostile-shaped: shard g is cut into g+1 zstd frames at
    * byte offsets that land MID-LINE (frame boundaries are byte-level,
    * not record-level — RFC 8878 concatenation semantics), with a
    * skippable frame between each pair. Content derives from doc_id so
    * the oracle re-creates every line without decompressing anything.
    */
  def writeZstdFixture(s: SparkSession, dir: String,
      pre: Option[Array[Long]] = None): String = {
    import graft.operators.ZstdShards
    val zDir = s"$scratch/zst_${new java.io.File(dir).getName}"
    val fd = new java.io.File(zDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val ids = fixtureIds(s, dir, 450, 490, pre)
    ids.grouped(10).zipWithIndex.foreach { case (group, g) =>
      val lines = group.toSeq.map { id =>
        val body = (0 until 30)
          .map(i => ('a' + (id * 7 + i.toLong * 13) % 26).toChar).mkString
        s"""{"doc_id":$id,"body":"$body"}"""
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$zDir/s$g%02d.jsonl.zst"),
        ZstdShards.makeShard(lines, g + 1))
    }
    zDir
  }

  /** e111/d43: 4 `.jsonl.lz4` shards × 10 docs over docs 0–40 — the
    * lz4 leg of the compressed-shard family. Shard g's payload splits
    * into g+1 frames CUT MID-LINE (frame boundaries must be
    * transparent to line framing), per-frame flag rotation (block/
    * content checksums, declared content size, a single-block LINKED
    * frame), and a skippable frame spliced into shard 2.
    */
  def writeLz4Fixture(s: SparkSession, dir: String,
      pre: Option[Array[Long]] = None): String = {
    import graft.operators.Lz4Shards
    val lDir = s"$scratch/lz4_${new java.io.File(dir).getName}"
    val fd = new java.io.File(lDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val ids = fixtureIds(s, dir, 0, 40, pre)
    ids.grouped(10).zipWithIndex.foreach { case (group, g) =>
      val lines = group.toSeq.map { id =>
        val body = (0 until 30)
          .map(i => ('a' + (id * 11 + i.toLong * 17) % 26).toChar).mkString
        s"""{"doc_id":$id,"body":"$body"}"""
      }
      val payload = (lines.mkString("\n") + "\n").getBytes("UTF-8")
      val nFrames = g + 1
      val cut = payload.length / nFrames
      val out = new java.io.ByteArrayOutputStream()
      (0 until nFrames).foreach { f =>
        val from = f * cut
        val until = if (f == nFrames - 1) payload.length else (f + 1) * cut
        val piece = java.util.Arrays.copyOfRange(payload, from, until)
        if (g == 2 && f == 1) out.write(Lz4Shards.makeSkippable(23))
        out.write(Lz4Shards.makeFrame(piece,
          blockChecksum = (g + f) % 2 == 0,
          contentSize = f % 2 == 1,
          contentChecksum = f % 3 != 2,
          linked = g == 3 && f == 1 && piece.length <= 65536))
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$lDir/s$g%02d.jsonl.lz4"), out.toByteArray)
    }
    lDir
  }

  /** e111/d43 shared: binaryFile rows → one typed row per JSONL line. */
  def lz4Project(raw: DataFrame): DataFrame =
    graft.operators.Lz4Shards.parse(raw)
      .select(col("fname"), col("line_no"),
        get_json_object(col("line"), "$.doc_id").cast("long").as("doc_id"),
        get_json_object(col("line"), "$.body").as("body"))

  /** The e111/d43 construction oracle. */
  val lz4OracleSql: String =
    """WITH d AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
        FROM documents WHERE text IS NOT NULL
          AND doc_id >= 0 AND doc_id < 40)
      SELECT 's' || lpad(CAST(rn // 10 AS VARCHAR), 2, '0')
          || '.jsonl.lz4' AS fname,
        CAST(rn % 10 AS INTEGER) AS line_no, doc_id,
        array_to_string(list_transform(generate_series(0, 29),
          i -> chr(CAST(97 + (doc_id * 11 + i * 17) % 26 AS INT))), '')
          AS body
      FROM d ORDER BY fname, line_no"""

  /** e112/d44: ONE mixed drop directory holding all TWELVE
    * content-routable r12 families side by side — the integration the
    * decoders exist for. Reuses every family's fixture writer
    * verbatim, so the oracle is the UNION of their construction
    * formulas.
    */
  /** doc_ids with non-null text in [lo, hi), sorted — the fixture
    * writers' id source. `pre` (when present) is the same full id set
    * collected ONCE by a composite fixture (writeMixedDropFixture /
    * r19, VERDICT r18 item 5: its sub-writers paid one collect job each
    * for identically-shaped scans); it is sliced driver-side here and is
    * re-collected on every composite call — never memoized across runs.
    */
  private[graft] def fixtureIds(s: SparkSession, dir: String, lo: Long,
      hi: Long, pre: Option[Array[Long]] = None): Array[Long] = pre match {
    case Some(ids) => ids.filter(id => id >= lo && id < hi)
    case None => t(s, dir, "documents")
      .filter(col("text").isNotNull &&
        col("doc_id") >= lo && col("doc_id") < hi)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
  }

  def writeMixedDropFixture(s: SparkSession, dir: String): String = {
    val mDir = s"$scratch/mixed_${new java.io.File(dir).getName}"
    val fd = new java.io.File(mDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    // r19 (VERDICT r18 item 5): ONE id-collect job shared by the twelve
    // documents-backed sub-writers below (they each paid an identical
    // tiny scan+collect; the union of their ranges is [0, 480)).
    val pre = Some(fixtureIds(s, dir, 0, 480))
    val sources = Seq(
      writeFlacFixture(s, dir, pre), writeSqliteFixture(s, dir, pre),
      writeAvroFixture(s, dir, pre), writeTiffFixture(s, dir, pre),
      writeMp3Fixture(s, dir, pre), writeOggFixture(s, dir, pre),
      writeWebmFixture(s, dir, pre), writeSevenZipFixture(s, dir, pre),
      writeLz4Fixture(s, dir, pre), writeWebpFixture(s, dir, pre),
      writeVp8LossyFixture("st", "webp_lossy_mix"),
      writeRtfFixture(s, dir, pre), writeOdtFixture(s, dir, pre),
      writeIcoFixture("ico_mix"), writeAvifHeifFixture("avif_heif_mix"))
    sources.foreach { src =>
      new java.io.File(src).listFiles().foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(s"$mDir/${f.getName}"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    mDir
  }

  /** The e112/d44 oracle: the union of the nine families' unit-count
    * closed forms, each restated from its own fixture arithmetic.
    */
  val mixedDropOracleSql: String =
    """WITH flac AS (SELECT 'a' || CAST(doc_id AS VARCHAR) || '.flac' AS fname,
          'audio/flac' AS mime,
          CAST(600 + (doc_id % 7) * 251 AS BIGINT) AS n_units
        FROM documents WHERE text IS NOT NULL AND doc_id >= 160 AND doc_id < 200),
      sqlite AS (SELECT 's' || lpad(CAST(rn // 5 AS VARCHAR), 2, '0')
            || '.sqlite' AS fname,
          'application/vnd.sqlite3' AS mime, CAST(5 AS BIGINT) AS n_units
        FROM (SELECT ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
          FROM documents WHERE text IS NOT NULL AND doc_id >= 200 AND doc_id < 240)
        WHERE rn % 5 = 0),
      avro AS (SELECT 'a' || lpad(CAST(rn // 5 AS VARCHAR), 2, '0')
            || '.avro' AS fname,
          'application/avro' AS mime, CAST(5 AS BIGINT) AS n_units
        FROM (SELECT ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
          FROM documents WHERE text IS NOT NULL AND doc_id >= 240 AND doc_id < 280)
        WHERE rn % 5 = 0),
      tiff AS (SELECT 't' || lpad(CAST(rn // 5 AS VARCHAR), 2, '0')
            || '.tiff' AS fname,
          'image/tiff' AS mime, CAST(5 AS BIGINT) AS n_units
        FROM (SELECT ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
          FROM documents WHERE text IS NOT NULL AND doc_id >= 280 AND doc_id < 320)
        WHERE rn % 5 = 0),
      mp3 AS (SELECT 'm' || CAST(doc_id AS VARCHAR) || '.mp3' AS fname,
          'audio/mpeg' AS mime,
          CAST(6 + doc_id % 9 AS BIGINT) AS n_units
        FROM documents WHERE text IS NOT NULL AND doc_id >= 320 AND doc_id < 360),
      ogg AS (SELECT 'g' || CAST(doc_id AS VARCHAR) || '.ogg' AS fname,
          'audio/ogg' AS mime,
          CAST(7 + doc_id % 6 AS BIGINT) AS n_units
        FROM documents WHERE text IS NOT NULL AND doc_id >= 360 AND doc_id < 400),
      webm AS (SELECT 'v' || CAST(doc_id AS VARCHAR) || '.webm' AS fname,
          'video/webm' AS mime,
          CAST(list_sum(list_transform(
            generate_series(0, 2 + CAST(doc_id % 4 AS INT) - 1),
            ci -> 1 + (doc_id + ci) % 3)) AS BIGINT) AS n_units
        FROM documents WHERE text IS NOT NULL AND doc_id >= 400 AND doc_id < 440),
      sz AS (SELECT 'a' || lpad(CAST(rn // 5 AS VARCHAR), 2, '0')
            || '.7z' AS fname,
          'application/x-7z-compressed' AS mime, CAST(5 AS BIGINT) AS n_units
        FROM (SELECT ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
          FROM documents WHERE text IS NOT NULL AND doc_id >= 440 AND doc_id < 480)
        WHERE rn % 5 = 0),
      lz4 AS (SELECT 's' || lpad(CAST(rn // 10 AS VARCHAR), 2, '0')
            || '.jsonl.lz4' AS fname,
          'application/x-lz4' AS mime, CAST(10 AS BIGINT) AS n_units
        FROM (SELECT ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
          FROM documents WHERE text IS NOT NULL AND doc_id >= 0 AND doc_id < 40)
        WHERE rn % 10 = 0),
      webp AS (SELECT 'p' || CAST(doc_id AS VARCHAR) || '.webp' AS fname,
          'image/webp' AS mime,
          CAST((8 + doc_id % 5) * (6 + doc_id % 3) AS BIGINT) AS n_units
        FROM documents WHERE text IS NOT NULL AND doc_id >= 80 AND doc_id < 120),
      webp_lossy AS (SELECT fname, 'image/webp' AS mime,
          CAST(width * height AS BIGINT) AS n_units
        FROM read_parquet('/root/repo/fixtures/""" + graft.queries.LlmPipeline.SfToken + """/e113b_webp_lossy.parquet')),
      rtf AS (SELECT 'r' || lpad(CAST(rn // 5 AS VARCHAR), 2, '0')
            || '.rtf' AS fname,
          'application/rtf' AS mime, CAST(5 AS BIGINT) AS n_units
        FROM (SELECT ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
          FROM documents WHERE text IS NOT NULL AND doc_id >= 320 AND doc_id < 360)
        WHERE rn % 5 = 0),
      odt AS (SELECT 'o' || lpad(CAST(rn // 5 AS VARCHAR), 2, '0')
            || '.odt' AS fname,
          'application/vnd.oasis.opendocument.text' AS mime,
          CAST(5 AS BIGINT) AS n_units
        FROM (SELECT ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
          FROM documents WHERE text IS NOT NULL AND doc_id >= 280 AND doc_id < 320)
        WHERE rn % 5 = 0),
      ico AS (SELECT regexp_extract(filename, '([^/]+)$', 1) AS fname,
          'image/x-icon' AS mime,
          CAST(strpos('123456789ABCDEF', substr(H, 9, 1))*16
             + strpos('123456789ABCDEF', substr(H, 10, 1))
             + 256*(strpos('123456789ABCDEF', substr(H, 11, 1))*16
             + strpos('123456789ABCDEF', substr(H, 12, 1))) AS BIGINT) AS n_units
        FROM (SELECT filename, hex(content) AS H
          FROM read_blob('""" + scratch + """/mixed___GRAFT_SF__/ic*.ico')
          UNION ALL SELECT filename, hex(content) AS H
          FROM read_blob('""" + scratch + """/mixed___GRAFT_SF__/cu*.cur'))),
      heif AS (SELECT fname,
          CASE WHEN fname LIKE '%.avif' THEN 'image/avif'
               ELSE 'image/heif' END AS mime,
          CAST(n_items AS BIGINT) AS n_units
        FROM read_parquet('/root/repo/fixtures/__GRAFT_SF__/e119_avif.parquet'))
      SELECT * FROM flac UNION ALL SELECT * FROM sqlite
      UNION ALL SELECT * FROM avro UNION ALL SELECT * FROM tiff
      UNION ALL SELECT * FROM mp3 UNION ALL SELECT * FROM ogg
      UNION ALL SELECT * FROM webm UNION ALL SELECT * FROM sz
      UNION ALL SELECT * FROM lz4 UNION ALL SELECT * FROM webp
      UNION ALL SELECT * FROM webp_lossy
      UNION ALL SELECT * FROM rtf UNION ALL SELECT * FROM odt
      UNION ALL SELECT * FROM ico UNION ALL SELECT * FROM heif
      ORDER BY fname"""

  /** e113/d45: one `.webp` (VP8L lossless) per doc over docs 80–120 —
    * the transform rotating per doc across none / subtract-green /
    * predictor (mode = doc_id % 14) / color-transform / palette (2–16
    * colors, exercising every bundling width), geometry rotating too.
    * Pixels are a closed form of (doc_id, i) so the oracle re-derives
    * every channel mean; the decoder's strict round-trip makes every
    * decoded pixel load-bearing.
    */
  def writeWebpFixture(s: SparkSession, dir: String,
      pre: Option[Array[Long]] = None): String = {
    import graft.operators.WebpL
    val wDir = s"$scratch/webp_${new java.io.File(dir).getName}"
    val fd = new java.io.File(wDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val ids = fixtureIds(s, dir, 80, 120, pre)
    ids.foreach { id =>
      val w = 8 + (id % 5).toInt
      val h = 6 + (id % 3).toInt
      val kind = (id % 5).toInt
      val pix =
        if (kind == 4) {
          val n = 2 + (id % 15).toInt
          Array.tabulate(w * h) { i =>
            val j = (i * 13 + id) % n
            (255 << 24) | ((((j * 37 + id) % 256) << 16) |
              (((j * 91) % 256).toInt << 8) | ((j * 53) % 256).toInt).toInt
          }
        } else Array.tabulate(w * h)(i =>
          (255 << 24) | (((id * 31 + i * 7) % 256).toInt << 16) |
            (((id * 17 + i * 11) % 256).toInt << 8) |
            ((id * 13 + i * 5) % 256).toInt)
      val bytes = kind match {
        case 0 => WebpL.makePixels(w, h, pix)
        case 1 => WebpL.makePixels(w, h, pix, subtractGreen = true)
        case 2 => WebpL.makePixels(w, h, pix,
          predictorMode = Some((id % 14).toInt))
        case 3 => WebpL.makePixels(w, h, pix,
          colorCte = Some((((id * 3) % 256).toInt, ((id * 5) % 256).toInt,
            ((id * 7) % 256).toInt)))
        case _ => WebpL.makePixels(w, h, pix, palette = true)
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$wDir/p$id.webp"), bytes)
    }
    wDir
  }

  /** e113b/e29b shared: materialize the committed REFERENCE-ENCODED
    * lossy-WebP streams (src/main/resources/graft/vp8_lossy.json —
    * produced by the reference encoder at a spread of qualities and
    * configs, incl. the simple loop filter, 8 token partitions and 4
    * segments; provenance in scripts/vp8_reference.py `fixture`) whose
    * names start with `prefix` into a scratch dir. Expected outputs
    * were derived from the REFERENCE decoder's RGBA at generation time
    * and committed as parquet fixtures — the e02 independent-fixture
    * pattern, so the engine's from-scratch VP8 decode is load-bearing
    * for every row.
    */
  /** Committed reference-encoded lossy members with names starting
    * `prefix`, sorted by name (the order the oracles' row_number join
    * mirrors).
    */
  def vp8LossyMembers(prefix: String): Seq[(String, Array[Byte])] = {
    val in = getClass.getResourceAsStream("/graft/vp8_lossy.json")
    val json = new String(in.readAllBytes(), "UTF-8")
    in.close()
    val entry = """"([A-Za-z0-9_.]+)":\s*"([0-9a-f]+)"""".r
    entry.findAllMatchIn(json).collect {
      case m if m.group(1).startsWith(prefix) =>
        m.group(1) -> m.group(2).grouped(2)
          .map(h => Integer.parseInt(h, 16).toByte).toArray
    }.toSeq.sortBy(_._1)
  }

  def writeVp8LossyFixture(prefix: String, sub: String): String = {
    val wDir = s"$scratch/$sub"
    val fd = new java.io.File(wDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    vp8LossyMembers(prefix).foreach { case (name, bytes) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$wDir/$name"), bytes)
    }
    wDir
  }

  /** e118 shared: deterministic ICO/CUR fixture set — PNG and 32bpp DIB
    * payloads, multi-entry files, the u8 0⇒256 width rule (a 256×84 PNG
    * member — 84 keeps the stored-deflate oracle layout under one
    * block), and cursor hotspots (r16, VERDICT item 4).
    */
  def writeIcoFixture(sub: String): String = {
    import graft.operators.Ico
    val iDir = s"$scratch/$sub"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(iDir))
    new java.io.File(iDir).listFiles().foreach(_.delete())
    def w(name: String, bytes: Array[Byte]): Unit = {
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$iDir/$name"), bytes)
      ()
    }
    w("ic00.ico", Ico.makeIco(Seq(
      Ico.PayloadSpec("png", 16, 16), Ico.PayloadSpec("dib", 16, 16)), 9100))
    w("ic01.ico", Ico.makeIco(Seq(Ico.PayloadSpec("dib", 32, 32)), 9200))
    w("ic02.ico", Ico.makeIco(Seq(Ico.PayloadSpec("png", 256, 84)), 9300))
    w("ic03.ico", Ico.makeIco(Seq(
      Ico.PayloadSpec("png", 20, 12), Ico.PayloadSpec("dib", 8, 8),
      Ico.PayloadSpec("png", 33, 9)), 9400))
    w("cu00.cur", Ico.makeIco(Seq(Ico.PayloadSpec("dib", 16, 16)), 9500,
      cursor = true))
    w("cu01.cur", Ico.makeIco(Seq(
      Ico.PayloadSpec("png", 24, 24), Ico.PayloadSpec("dib", 12, 12)), 9600,
      cursor = true))
    iDir
  }

  /** e119 shared: REFERENCE-ENCODED AVIF/HEIC members (libavif/aom,
    * libheif/x265 — scripts/avif_heif_reference.py, r16 trigger) from
    * the committed resource, materialized to scratch.
    */
  def avifHeifMembers(): Seq[(String, Array[Byte])] = {
    val in = getClass.getResourceAsStream("/graft/avif_heif_members.json")
    val json = new String(in.readAllBytes(), "UTF-8")
    in.close()
    val entry = """"([A-Za-z0-9_.]+)":\s*"([0-9a-f]+)"""".r
    entry.findAllMatchIn(json).map { m =>
      m.group(1) -> m.group(2).grouped(2)
        .map(h => Integer.parseInt(h, 16).toByte).toArray
    }.toSeq.sortBy(_._1)
  }

  def writeAvifHeifFixture(sub: String): String = {
    val wDir = s"$scratch/$sub"
    val fd = new java.io.File(wDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    avifHeifMembers().foreach { case (name, bytes) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$wDir/$name"), bytes)
    }
    wDir
  }

  // DuckDB hex-walk helpers with a DYNAMIC 0-based byte offset (the
  // LlmPipeline duck* twins take a fixed 1-based literal): `o` is any
  // SQL expression over in-scope columns.
  private def hbD(o: String): String =
    s"(strpos('123456789ABCDEF', substr(H, 2*($o) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*($o) + 2, 1)))"
  private def le32D(o: String): String =
    s"(${hbD(o)} + 256*${hbD(s"($o)+1")} + 65536*${hbD(s"($o)+2")} + 16777216*${hbD(s"($o)+3")})"
  private def be32D(o: String): String =
    s"(16777216*${hbD(o)} + 65536*${hbD(s"($o)+1")} + 256*${hbD(s"($o)+2")} + ${hbD(s"($o)+3")})"

  /** e118/d52 shared: binaryFile rows → one typed row per ICO/CUR
    * directory entry.
    */
  def icoProject(raw: DataFrame): DataFrame = {
    val ent = udf((b: Array[Byte]) =>
      graft.operators.Ico.entries(b).map(_.map { e =>
        // mean over DECODED pixel bytes, both payload families: 32bpp
        // DIB XOR image (BGRA), or the PNG payload through the general
        // inflate + unfilter path (RGB) — r16b, pixel coverage for the
        // png branch too (the oracle walks the fixture's stored-deflate
        // layout, the e12i pattern; the DECODER is general)
        val mx = e.format match {
          case "dib" => graft.operators.Ico.dib32ChannelSums(b, e).map {
            case (sb, sg, sr, sa, n) => (sb + sg + sr + sa).toDouble / (4.0 * n)
          }
          case _ => graft.operators.Multimodal
            .pngChannelSums(graft.operators.Ico.payload(b, e)).map {
              case (r, g, bl, n) => (r + g + bl).toDouble / (3.0 * n)
            }
        }
        (e.idx, e.kind, e.dirW, e.dirH, e.width, e.height,
          if (e.kind == "cursor") Some(e.hotspotX) else None,
          if (e.kind == "cursor") Some(e.hotspotY) else None,
          e.format, e.bitCount, e.payloadLen.toLong, mx)
      }))
    raw.select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
        explode(ent(col("content"))).as("e"))
      .select(col("fname"),
        col("e._1").as("idx"), col("e._2").as("kind"),
        col("e._3").as("dir_w"), col("e._4").as("dir_h"),
        col("e._5").as("width"), col("e._6").as("height"),
        col("e._7").as("hx"), col("e._8").as("hy"),
        col("e._9").as("fmt"), col("e._10").as("bit_count"),
        col("e._11").as("n_payload"),
        round(col("e._12"), 6).as("mean_px"))
  }

  /** e119/d53 shared: binaryFile rows → one container-facts row per
    * HEIF-family file.
    */
  def heifProject(raw: DataFrame): DataFrame = {
    val infoU = udf((b: Array[Byte]) => graft.operators.Heif.info(b))
    // full AV1 intra pixel decode (graft.operators.av1) -> per-plane
    // means over the visible area; None for non-AV1 primaries. The
    // fixture's expected values come from the REFERENCE decoder
    // (avifDecoderReadMemory) at generation time — a cross-decoder
    // pixel oracle over every committed member.
    val pxU = udf((b: Array[Byte]) =>
      graft.operators.Heif.decode(b).map { d =>
        def mean(pl: graft.operators.av1.Av1Decoder.Planes, i: Int)
            : Option[Double] =
          if (i < pl.planes.length) {
            val a = pl.planes(i)
            var ssum = 0.0
            var k = 0
            while (k < a.length) { ssum += a(k); k += 1 }
            Some(BigDecimal(ssum / a.length)
              .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble)
          } else None
        (mean(d.primary, 0), mean(d.primary, 1), mean(d.primary, 2),
          d.alpha.flatMap(mean(_, 0)))
      })
    raw.select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
        infoU(col("content")).as("i"),
        pxU(col("content")).as("px"))
      .filter(col("i").isNotNull)
      .select(col("fname"),
        col("i.itemType").as("item_type"),
        col("i.width").as("width"), col("i.height").as("height"),
        col("i.depth").as("depth"),
        col("i.hasAlpha").as("has_alpha"),
        col("i.nItems").as("n_items"), col("i.irot").as("irot"),
        col("i.primaryBytes").as("primary_bytes"),
        col("i.seqProfile").as("seq_profile"),
        col("i.stillPicture").as("still_picture"),
        // full sequence-header bit parse, cross-domain pinned: the
        // fixture's expected values come from the REFERENCE decoder /
        // construction params, the engine's from the BITSTREAM (r16b)
        col("i.obuMaxW").as("obu_max_w"),
        col("i.obuMaxH").as("obu_max_h"),
        col("i.obuBitDepth").as("obu_bitdepth"),
        col("i.obuMono").as("obu_mono"),
        col("i.obuSubX").as("obu_sub_x"),
        col("i.obuSubY").as("obu_sub_y"),
        col("px._1").as("px_y_mean"),
        col("px._2").as("px_u_mean"),
        col("px._3").as("px_v_mean"),
        col("px._4").as("px_a_mean"))
  }

  /** e118 oracle: an independent DuckDB hex walk of the SAME directory
    * and payload headers (dims from the payload, 0⇒256 from the u8
    * fields, hotspots for cursors only) plus a full byte-sum over each
    * entry's DECODED pixel region — the 32bpp DIB XOR image, or the
    * PNG payload's scanline bytes at the fixture's stored-deflate
    * offsets (sig 8 + IHDR 25 + IDAT hdr 8 + zlib 2 + stored hdr 5 =
    * pixels from payload byte 48, one filter byte per row — the e12i
    * layout pin; the ENGINE decodes via general inflate). The engine's
    * mean_px must match to 6dp on every entry.
    */
  private[queries] def icoOracleSql: String =
    s"""WITH b AS (SELECT filename, hex(content) AS H
          FROM read_blob('$scratch/ico/*')),
      hdr AS (SELECT filename, H,
          CASE WHEN ${hbD("2")} + 256*${hbD("3")} = 2 THEN 'cursor' ELSE 'icon' END AS kind,
          (${hbD("2")} + 256*${hbD("3")}) AS ftype,
          (${hbD("4")} + 256*${hbD("5")}) AS cnt FROM b),
      ent AS (SELECT filename, H, kind, ftype, CAST(i AS INT) AS idx, 6 + 16*i AS e
          FROM hdr, UNNEST(generate_series(0, cnt - 1)) AS u(i)),
      fld AS (SELECT filename, H, kind, ftype, idx,
          CASE WHEN ${hbD("e")} = 0 THEN 256 ELSE ${hbD("e")} END AS dir_w,
          CASE WHEN ${hbD("e+1")} = 0 THEN 256 ELSE ${hbD("e+1")} END AS dir_h,
          (${hbD("e+4")} + 256*${hbD("e+5")}) AS f4,
          (${hbD("e+6")} + 256*${hbD("e+7")}) AS f6,
          ${le32D("e+8")} AS n_payload,
          ${le32D("e+12")} AS poff FROM ent),
      fmtd AS (SELECT *, CASE WHEN substr(H, 2*poff + 1, 16) = '89504E470D0A1A0A'
            THEN 'png' ELSE 'dib' END AS fmt FROM fld),
      dims AS (SELECT filename, H, kind, ftype, idx, dir_w, dir_h, f4, f6,
          n_payload, poff, fmt,
          CASE WHEN fmt = 'png' THEN ${be32D("poff+16")}
               ELSE ${le32D("poff+4")} END AS width,
          CASE WHEN fmt = 'png' THEN ${be32D("poff+20")}
               ELSE ${le32D("poff+8")} // 2 END AS height,
          CASE WHEN fmt = 'png' THEN ${hbD("poff+24")} *
              (CASE ${hbD("poff+25")} WHEN 0 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 1
                WHEN 4 THEN 2 WHEN 6 THEN 4 END)
            ELSE ${hbD("poff+14")} + 256*${hbD("poff+15")} END AS bit_count
          FROM fmtd),
      xr AS (SELECT filename, idx, sum(${hbD("o")}) AS xs, count(*) AS xn
          FROM (SELECT filename, idx, H,
              CASE WHEN fmt = 'dib' THEN poff + 40 + k
                ELSE poff + 48 + (k // (width*3)) * (1 + width*3) + 1 + (k % (width*3))
              END AS o
            FROM dims, UNNEST(generate_series(0,
              CASE WHEN fmt = 'dib' THEN width*height*4 - 1
                ELSE width*height*3 - 1 END)) AS v(k))
          GROUP BY filename, idx)
      SELECT regexp_extract(d.filename, '([^/]+)$$', 1) AS fname,
        d.idx AS idx, d.kind AS kind,
        CAST(d.dir_w AS INT) AS dir_w, CAST(d.dir_h AS INT) AS dir_h,
        CAST(d.width AS INT) AS width, CAST(d.height AS INT) AS height,
        CASE WHEN d.ftype = 2 THEN CAST(d.f4 AS INT) END AS hx,
        CASE WHEN d.ftype = 2 THEN CAST(d.f6 AS INT) END AS hy,
        d.fmt AS fmt, CAST(d.bit_count AS INT) AS bit_count,
        CAST(d.n_payload AS BIGINT) AS n_payload,
        round(CAST(x.xs AS DOUBLE) / x.xn, 6) AS mean_px
      FROM dims d JOIN xr x ON d.filename = x.filename AND d.idx = x.idx
      ORDER BY fname, idx"""

  /** e117/d51 shared: animations over docs 430–450, each built from the
    * committed lossy members ((doc_id*11 + j) mod member-count over the
    * sorted st* set — ALPH members included, so per-frame mean_a is
    * load-bearing), with closed-form geometry/timing/flags.
    */
  def writeWebpAnimFixture(s: SparkSession, dir: String, sub: String): String = {
    val members = vp8LossyMembers("st")
    val aDir = s"$scratch/$sub"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(aDir))
    new java.io.File(aDir).listFiles().foreach(_.delete())
    t(s, dir, "documents")
      .filter(col("text").isNotNull &&
        col("doc_id") >= 430 && col("doc_id") < 450)
      .select(col("doc_id")).collect().foreach { r =>
        val id = r.getLong(0)
        val nf = 2 + (id % 4).toInt
        val frames = (0 until nf).map { j =>
          val still = members(((id * 11 + j) % members.size).toInt)._2
          val x = 2 * ((id + j) % 4).toInt
          val y = 2 * ((id * 3 + j) % 3).toInt
          val dur = 30 + 10 * ((id + j) % 5).toInt
          (x, y, dur, (id + j) % 2 == 0, (id + j) % 3 != 0, still)
        }
        val dims = frames.map { case (x, y, _, _, _, still) =>
          val img = graft.operators.WebpL.decode(still).get
          (x + img.width, y + img.height)
        }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(f"$aDir/a$id%04d.webp"),
          graft.operators.WebpAnim.make(
            dims.map(_._1).max, dims.map(_._2).max,
            background = 0, loopCount = (id % 7).toInt, frames))
      }
    aDir
  }

  /** e117/d51 shared: binaryFile rows → one row per animation frame. */
  def webpAnimProject(raw: DataFrame): DataFrame = {
    val ex = udf { (b: Array[Byte]) =>
      graft.operators.WebpAnim.parse(b).map { anim =>
        anim.frames.flatMap { fr =>
          graft.operators.WebpL.decode(fr.still).map { img =>
            val n = img.width * img.height
            var sa = 0L; var sr = 0L; var sg = 0L; var sb = 0L
            img.pixels.foreach { px =>
              sa += (px >>> 24) & 0xff
              sr += (px >>> 16) & 0xff
              sg += (px >>> 8) & 0xff
              sb += px & 0xff
            }
            def r6(v: Long): Double = BigDecimal(v.toDouble / n)
              .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble
            (fr.idx, fr.x, fr.y, img.width, img.height, fr.durationMs,
              anim.loopCount, fr.disposeToBackground, fr.blend,
              r6(sa), r6(sr), r6(sg), r6(sb))
          }
        }
      }.getOrElse(Vector.empty)
    }
    raw
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
        explode(ex(col("content"))).as("x"))
      .select(col("fname"), col("x._1").as("frame"),
        col("x._2").as("x"), col("x._3").as("y"),
        col("x._4").as("width"), col("x._5").as("height"),
        col("x._6").as("duration_ms"), col("x._7").as("loop_count"),
        col("x._8").as("dispose_bg"), col("x._9").as("blend"),
        col("x._10").as("mean_a"), col("x._11").as("mean_r"),
        col("x._12").as("mean_g"), col("x._13").as("mean_b"))
  }

  val webpAnimOracleSql: String =
    s"""WITH d AS (SELECT doc_id, 2 + CAST(doc_id % 4 AS INT) AS nf
        FROM documents WHERE text IS NOT NULL
          AND doc_id >= 430 AND doc_id < 450),
      members AS (SELECT width, height, mean_a, mean_r, mean_g, mean_b,
          row_number() OVER (ORDER BY fname) - 1 AS k,
          count(*) OVER () AS nm
        FROM read_parquet('/root/repo/fixtures/${graft.queries.LlmPipeline.SfToken}/e113b_webp_lossy.parquet')),
      fr AS (SELECT doc_id, j,
          (doc_id * 11 + j) % (SELECT max(nm) FROM members) AS k,
          CAST(2 * ((doc_id + j) % 4) AS INTEGER) AS x,
          CAST(2 * ((doc_id * 3 + j) % 3) AS INTEGER) AS y,
          CAST(30 + 10 * ((doc_id + j) % 5) AS INTEGER) AS duration_ms,
          CAST(doc_id % 7 AS INTEGER) AS loop_count,
          (doc_id + j) % 2 = 0 AS dispose_bg,
          (doc_id + j) % 3 != 0 AS blend
        FROM d, UNNEST(generate_series(0, nf - 1)) AS t(j))
      SELECT 'a' || lpad(CAST(doc_id AS VARCHAR), 4, '0') || '.webp' AS fname,
        CAST(j AS INTEGER) AS frame, x, y,
        CAST(m.width AS INTEGER) AS width,
        CAST(m.height AS INTEGER) AS height,
        duration_ms, loop_count, dispose_bg, blend,
        m.mean_a, m.mean_r, m.mean_g, m.mean_b
      FROM fr JOIN members m USING (k)
      ORDER BY fname, frame"""

  /** e113/d45 shared: binaryFile rows → one stats row per image. */
  def webpProject(raw: DataFrame): DataFrame =
    graft.operators.WebpL.parse(raw)
      .select(col("fname"),
        regexp_extract(col("fname"), "([0-9]+)", 1)
          .cast("long").as("doc_id"),
        col("width"), col("height"),
        col("mean_a"), col("mean_r"), col("mean_g"), col("mean_b"))

  /** The e113/d45 construction oracle: channel means re-derived from
    * the (doc_id, i) pixel closed forms — the palette branch goes
    * through the same index arithmetic the fixture used.
    */
  val webpOracleSql: String =
    """WITH d AS (SELECT doc_id,
          8 + CAST(doc_id % 5 AS INT) AS w,
          6 + CAST(doc_id % 3 AS INT) AS h,
          CAST(doc_id % 5 AS INT) AS kind,
          2 + CAST(doc_id % 15 AS INT) AS n
        FROM documents WHERE text IS NOT NULL
          AND doc_id >= 80 AND doc_id < 120),
      m AS (SELECT doc_id, w, h, kind,
          CASE WHEN kind = 4 THEN
            round(CAST(list_sum(list_transform(generate_series(0, w*h - 1),
              i -> (((i*13 + doc_id) % n) * 37 + doc_id) % 256)) AS DOUBLE) / (w*h), 6)
          ELSE
            round(CAST(list_sum(list_transform(generate_series(0, w*h - 1),
              i -> (doc_id*31 + i*7) % 256)) AS DOUBLE) / (w*h), 6)
          END AS mean_r,
          CASE WHEN kind = 4 THEN
            round(CAST(list_sum(list_transform(generate_series(0, w*h - 1),
              i -> (((i*13 + doc_id) % n) * 91) % 256)) AS DOUBLE) / (w*h), 6)
          ELSE
            round(CAST(list_sum(list_transform(generate_series(0, w*h - 1),
              i -> (doc_id*17 + i*11) % 256)) AS DOUBLE) / (w*h), 6)
          END AS mean_g,
          CASE WHEN kind = 4 THEN
            round(CAST(list_sum(list_transform(generate_series(0, w*h - 1),
              i -> (((i*13 + doc_id) % n) * 53) % 256)) AS DOUBLE) / (w*h), 6)
          ELSE
            round(CAST(list_sum(list_transform(generate_series(0, w*h - 1),
              i -> (doc_id*13 + i*5) % 256)) AS DOUBLE) / (w*h), 6)
          END AS mean_b
        FROM d)
      SELECT 'p' || CAST(doc_id AS VARCHAR) || '.webp' AS fname, doc_id,
        w AS width, h AS height, CAST(255.0 AS DOUBLE) AS mean_a,
        mean_r, mean_g, mean_b
      FROM m ORDER BY doc_id"""

  /** e114/d46: 4 mbox files × 10 messages over docs 200–240 — the
    * mail-archive shape: subjects rotating through RFC 2047 B / Q /
    * plain forms, bodies rotating single-part 7bit vs multipart/mixed
    * (a quoted-printable text part + a base64 text part + a binary
    * attachment), From-stuffed body lines planted so unstuffing is
    * load-bearing.
    */
  def writeMboxFixture(s: SparkSession, dir: String,
      pre: Option[Array[Long]] = None): String = {
    import graft.operators.Mbox
    val mDir = s"$scratch/mbox_${new java.io.File(dir).getName}"
    val fd = new java.io.File(mDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val ids = fixtureIds(s, dir, 200, 240, pre)
    def word(id: Long, k: Int): String =
      (0 until 3).map(c => ('a' + (id * 41 + k * 43 + c * 47) % 26).toChar).mkString
    ids.grouped(10).zipWithIndex.foreach { case (group, g) =>
      val msgs = group.toSeq.map { id =>
        val subject = (id % 3) match {
          case 0 => s"=?UTF-8?B?${java.util.Base64.getEncoder
            .encodeToString(s"Ré doc $id".getBytes("UTF-8"))}?="
          case 1 => s"=?ISO-8859-1?Q?caf=E9_doc_$id?="
          case _ => s"plain doc $id"
        }
        val body = if (id % 2 == 0) {
          val qp = Mbox.qpEncode(s"qp a=b doc $id")
          val b64 = Mbox.b64Encode(s"b64 doc $id ${word(id, 0)} ${word(id, 1)}")
          s"""Content-Type: multipart/mixed; boundary="b$id"
             |
             |--b$id
             |Content-Type: text/plain; charset=utf-8
             |Content-Transfer-Encoding: quoted-printable
             |
             |$qp
             |--b$id
             |Content-Type: text/plain; charset=utf-8
             |Content-Transfer-Encoding: base64
             |
             |$b64
             |--b$id
             |Content-Type: application/octet-stream
             |Content-Transfer-Encoding: base64
             |
             |AAECAwQF
             |--b$id--""".stripMargin
        } else {
          s"""Content-Type: text/plain; charset=us-ascii
             |
             |plain body doc $id ${word(id, 2)}
             |>From stuffing survives""".stripMargin
        }
        s"""From user$id@example.com Thu Jan  1 00:00:00 2026
           |From: user$id@example.com
           |Subject: $subject
           |Date: Thu, 1 Jan 2026 00:00:00 +0000
           |$body""".stripMargin
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$mDir/m$g%02d.mbox"),
        msgs.mkString("\n").getBytes("UTF-8"))
    }
    mDir
  }

  /** e114/d46 shared: binaryFile rows → one row per message. */
  def mboxProject(raw: DataFrame): DataFrame =
    graft.operators.Mbox.parse(raw)
      .select(col("fname"), col("msg_idx"),
        regexp_extract(col("from_addr"), "([0-9]+)", 1)
          .cast("long").as("doc_id"),
        col("from_addr"), col("subject"), col("n_parts"), col("text"))

  /** The e114/d46 construction oracle: decoded subjects (through both
    * RFC 2047 forms), part counts and assembled text in closed form.
    */
  val mboxOracleSql: String =
    """WITH d AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
        FROM documents WHERE text IS NOT NULL
          AND doc_id >= 200 AND doc_id < 240),
      w AS (SELECT doc_id, rn,
          array_to_string(list_transform(generate_series(0, 2),
            k -> array_to_string(list_transform(generate_series(0, 2),
              c -> chr(CAST(97 + (doc_id * 41 + k * 43 + c * 47) % 26 AS INT))), '')),
            ' ') AS words
        FROM d)
      SELECT 'm' || lpad(CAST(rn // 10 AS VARCHAR), 2, '0') || '.mbox' AS fname,
        CAST(rn % 10 AS INTEGER) AS msg_idx, doc_id,
        'user' || CAST(doc_id AS VARCHAR) || '@example.com' AS from_addr,
        CASE CAST(doc_id % 3 AS INT)
          WHEN 0 THEN 'Ré doc ' || CAST(doc_id AS VARCHAR)
          WHEN 1 THEN 'café doc ' || CAST(doc_id AS VARCHAR)
          ELSE 'plain doc ' || CAST(doc_id AS VARCHAR) END AS subject,
        CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS n_parts,
        CASE WHEN doc_id % 2 = 0 THEN
          'qp a=b doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
          'b64 doc ' || CAST(doc_id AS VARCHAR) || ' ' ||
            string_split(words, ' ')[1] || ' ' || string_split(words, ' ')[2]
        ELSE
          'plain body doc ' || CAST(doc_id AS VARCHAR) || ' ' ||
            string_split(words, ' ')[3] || chr(10) ||
          'From stuffing survives' END AS text
      FROM w ORDER BY fname, msg_idx"""

  /** e115/d47: 8 `.odt` files × 5 paragraphs over docs 280–320 — the
    * DOCX fixture pattern on the open-standard sibling: entity-bearing
    * text split across spans, planted annotations and commented-out
    * paragraphs that must never emit, the first paragraph per file a
    * heading.
    */
  def writeOdtFixture(s: SparkSession, dir: String,
      pre: Option[Array[Long]] = None): String = {
    import graft.operators.Odt
    val oDir = s"$scratch/odt_${new java.io.File(dir).getName}"
    val fd = new java.io.File(oDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val ids = fixtureIds(s, dir, 280, 320, pre)
    def word(id: Long, k: Int): String =
      (0 until 3).map(c => ('a' + (id * 53 + k * 59 + c * 61) % 26).toChar).mkString
    ids.grouped(5).zipWithIndex.foreach { case (group, g) =>
      val paras = group.toSeq.zipWithIndex.map { case (id, j) =>
        val ws = (0 until 5).map(k => word(id, k)).mkString(" ")
        (j == 0, s"Para $id $ws a&b <q>")
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$oDir/o$g%02d.odt"),
        Odt.makeOdt(paras))
    }
    oDir
  }

  /** e115/d47 shared: binaryFile rows → one row per paragraph. */
  def odtProject(raw: DataFrame): DataFrame =
    graft.operators.Odt.parse(raw)
      .select(col("fname"), col("para_idx"), col("heading"),
        regexp_extract(col("text"), "Para ([0-9]+)", 1)
          .cast("long").as("doc_id"),
        col("text"))

  /** The e115/d47 construction oracle. */
  val odtOracleSql: String =
    """WITH d AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
        FROM documents WHERE text IS NOT NULL
          AND doc_id >= 280 AND doc_id < 320),
      w AS (SELECT doc_id, rn,
          array_to_string(list_transform(generate_series(0, 4),
            k -> array_to_string(list_transform(generate_series(0, 2),
              c -> chr(CAST(97 + (doc_id * 53 + k * 59 + c * 61) % 26 AS INT))), '')),
            ' ') AS words
        FROM d)
      SELECT 'o' || lpad(CAST(rn // 5 AS VARCHAR), 2, '0') || '.odt' AS fname,
        CAST(rn % 5 AS INTEGER) AS para_idx,
        (rn % 5 = 0) AS heading, doc_id,
        'Para ' || CAST(doc_id AS VARCHAR) || ' ' || words || ' a&b <q>' AS text
      FROM w ORDER BY fname, para_idx"""

  /** e116/d48: 8 `.rtf` files × 5 paragraphs over docs 320–360 — the
    * fixture writer routes each paragraph's text through a MIX of
    * plain runs, cp1252 `\'hh` escapes (every 7th char), `\uN`
    * unicode escapes with planted fallbacks, and brace/backslash
    * escaping, with a font table, an ignorable destination, an info
    * block and a `\bin` picture (hostile braces inside) planted per
    * file. The non-ASCII é exercises the unicode path in every row.
    */
  def writeRtfFixture(s: SparkSession, dir: String,
      pre: Option[Array[Long]] = None): String = {
    import graft.operators.Rtf
    val rDir = s"$scratch/rtf_${new java.io.File(dir).getName}"
    val fd = new java.io.File(rDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val ids = fixtureIds(s, dir, 320, 360, pre)
    def word(id: Long, k: Int): String =
      (0 until 3).map(c => ('a' + (id * 71 + k * 73 + c * 79) % 26).toChar).mkString
    ids.grouped(5).zipWithIndex.foreach { case (group, g) =>
      val paras = group.toSeq.map { id =>
        val ws = (0 until 4).map(k => word(id, k)).mkString(" ")
        s"Para $id $ws café {x}"
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$rDir/r$g%02d.rtf"),
        Rtf.makeRtf(paras))
    }
    rDir
  }

  /** e116/d48 shared: binaryFile rows → one row per paragraph. */
  def rtfProject(raw: DataFrame): DataFrame =
    graft.operators.Rtf.parse(raw)
      .select(col("fname"), col("para_idx"),
        regexp_extract(col("text"), "Para ([0-9]+)", 1)
          .cast("long").as("doc_id"),
        col("text"))

  /** The e116/d48 construction oracle. */
  val rtfOracleSql: String =
    """WITH d AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
        FROM documents WHERE text IS NOT NULL
          AND doc_id >= 320 AND doc_id < 360),
      w AS (SELECT doc_id, rn,
          array_to_string(list_transform(generate_series(0, 3),
            k -> array_to_string(list_transform(generate_series(0, 2),
              c -> chr(CAST(97 + (doc_id * 71 + k * 73 + c * 79) % 26 AS INT))), '')),
            ' ') AS words
        FROM d)
      SELECT 'r' || lpad(CAST(rn // 5 AS VARCHAR), 2, '0') || '.rtf' AS fname,
        CAST(rn % 5 AS INTEGER) AS para_idx, doc_id,
        'Para ' || CAST(doc_id AS VARCHAR) || ' ' || words || ' café {x}' AS text
      FROM w ORDER BY fname, para_idx"""

  /** e98/d28 shared: binaryFile rows → one typed row per JSONL line. */
  def zstdProject(raw: DataFrame): DataFrame =
    graft.operators.ZstdShards.parse(raw)
      .select(col("fname"), col("line_no"),
        get_json_object(col("line"), "$.doc_id").cast("long").as("doc_id"),
        get_json_object(col("line"), "$.body").as("body"))

  /** The e98/d28 construction oracle. */
  val zstdOracleSql: String =
    """WITH d AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
        FROM documents WHERE text IS NOT NULL
          AND doc_id >= 450 AND doc_id < 490)
      SELECT 's' || lpad(CAST(rn // 10 AS VARCHAR), 2, '0')
          || '.jsonl.zst' AS fname,
        CAST(rn % 10 AS INTEGER) AS line_no, doc_id,
        array_to_string(list_transform(generate_series(0, 29),
          i -> chr(CAST(97 + (doc_id * 7 + i * 13) % 26 AS INT))), '')
          AS body
      FROM d ORDER BY fname, line_no"""

  /** e99/d29 shared: 4 `.jsonl.xz` shards × 10 documents through the
    * from-scratch LZMA/xz encoder. Each shard carries a DIFFERENT
    * content-check id (none / CRC32 / CRC64 / SHA-256 — all four live
    * verification paths), shard chunking forces multi-chunk LZMA2 with
    * cross-chunk matches, and shard 3 splices an uncompressed chunk +
    * state-reset continuation. Content derives from doc_id so the
    * oracle re-creates every line without an LZMA implementation.
    * r14: shards also rotate PRE-FILTER chains — none / delta(1) /
    * ARM64 BCJ / delta(2)+x86 — so the block-header filter parse, the
    * multi-filter undo order and the delta arithmetic all ride the
    * driver row (the branch filters are near-vacuous on ASCII, but the
    * chain STRUCTURE and delta's every-byte transform are live; the
    * conversion arithmetic is reference-pinned in XzSpec).
    */
  def writeXzFixture(s: SparkSession, dir: String,
      pre: Option[Array[Long]] = None): String = {
    import graft.operators.Xz
    val xDir = s"$scratch/xz_${new java.io.File(dir).getName}"
    val fd = new java.io.File(xDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val ids = fixtureIds(s, dir, 80, 120, pre)
    val checks = Array(0, 1, 4, 10)
    ids.grouped(10).zipWithIndex.foreach { case (group, g) =>
      val payload = group.toSeq.map { id =>
        val body = (0 until 30)
          .map(i => ('a' + (id * 11 + i.toLong * 17) % 26).toChar).mkString
        s"""{"doc_id":$id,"body":"$body"}"""
      }.mkString("", "\n", "\n").getBytes("UTF-8")
      val filters: Seq[Xz.PreFilter] = (g % 4) match {
        case 0 => Nil
        case 1 => Seq(Xz.DeltaFilter(1))
        case 2 => Seq(Xz.Arm64Filter)
        case _ => Seq(Xz.DeltaFilter(2), Xz.X86Filter)
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$xDir/x$g%02d.jsonl.xz"),
        Xz.makeXz(payload, check = checks(g % 4), chunkLen = 128,
          rawSplice = g == 3, filters = filters))
    }
    xDir
  }

  /** e99/d29 shared: binaryFile rows → one typed row per JSONL line. */
  def xzProject(raw: DataFrame): DataFrame =
    graft.operators.Xz.parse(raw)
      .select(col("fname"), col("line_no"),
        get_json_object(col("line"), "$.doc_id").cast("long").as("doc_id"),
        get_json_object(col("line"), "$.body").as("body"))

  /** The e99/d29 construction oracle. */
  val xzOracleSql: String =
    """WITH d AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
        FROM documents WHERE text IS NOT NULL
          AND doc_id >= 80 AND doc_id < 120)
      SELECT 'x' || lpad(CAST(rn // 10 AS VARCHAR), 2, '0')
          || '.jsonl.xz' AS fname,
        CAST(rn % 10 AS INTEGER) AS line_no, doc_id,
        array_to_string(list_transform(generate_series(0, 29),
          i -> chr(CAST(97 + (doc_id * 11 + i * 17) % 26 AS INT))), '')
          AS body
      FROM d ORDER BY fname, line_no"""

  /** e98b: 4 `.jsonl.gz` shards × 10 documents — the third leg of the
    * compressed-line-shard trio (gz/zst/xz; gz is what WET text dumps
    * and countless legacy corpora ship). Shard g is cut into g+1 RFC
    * 1952 members at byte offsets that land mid-line (member
    * boundaries are byte-level, like zstd frames); the strict walk
    * verifies every member's CRC32 + ISIZE trailer and exact-consume.
    */
  def writeGzipFixture(s: SparkSession, dir: String,
      pre: Option[Array[Long]] = None): String = {
    val gDir = s"$scratch/gzl_${new java.io.File(dir).getName}"
    val fd = new java.io.File(gDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val ids = fixtureIds(s, dir, 450, 490, pre)
    ids.grouped(10).zipWithIndex.foreach { case (group, g) =>
      val payload = group.toSeq.map { id =>
        val body = (0 until 30)
          .map(i => ('a' + (id * 29 + i.toLong * 31) % 26).toChar).mkString
        s"""{"doc_id":$id,"body":"$body"}"""
      }.mkString("", "\n", "\n").getBytes("UTF-8")
      val nMembers = g + 1
      val cut = payload.length / nMembers
      val bo = new java.io.ByteArrayOutputStream()
      (0 until nMembers).foreach { m =>
        val from = m * cut
        val until = if (m == nMembers - 1) payload.length else (m + 1) * cut
        val gz = new java.util.zip.GZIPOutputStream(bo)
        gz.write(payload, from, until - from)
        gz.finish()
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$gDir/g$g%02d.jsonl.gz"), bo.toByteArray)
    }
    gDir
  }

  /** e98b/d30 shared: binaryFile rows → one typed row per line through
    * the strict member walk.
    */
  def gzipLinesProject(raw: DataFrame): DataFrame = {
    val ex = udf((b: Array[Byte]) =>
      graft.operators.WarcGzip.gunzipStrict(b)
        .map(graft.operators.ZstdShards.toLines)
        .getOrElse(Vector.empty[String]))
    raw.select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
        posexplode(ex(col("content"))).as(Seq("line_no", "line")))
      .select(col("fname"), col("line_no"),
        get_json_object(col("line"), "$.doc_id").cast("long").as("doc_id"),
        get_json_object(col("line"), "$.body").as("body"))
  }

  /** The e98b construction oracle. */
  val gzipLinesOracleSql: String =
    """WITH d AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
        FROM documents WHERE text IS NOT NULL
          AND doc_id >= 450 AND doc_id < 490)
      SELECT 'g' || lpad(CAST(rn // 10 AS VARCHAR), 2, '0')
          || '.jsonl.gz' AS fname,
        CAST(rn % 10 AS INTEGER) AS line_no, doc_id,
        array_to_string(list_transform(generate_series(0, 29),
          i -> chr(CAST(97 + (doc_id * 29 + i * 31) % 26 AS INT))), '')
          AS body
      FROM d ORDER BY fname, line_no"""

  /** e99b/d31 shared: 2 `.tar.xz` archives over docs 490–500, rotating
    * plain-ustar and GNU long-name members, CRC64/SHA-256 checks, the
    * second archive raw-spliced.
    */
  def writeTarXzFixture(s: SparkSession, dir: String): String = {
    import graft.operators.{TarShards, Xz}
    val outDir = s"$scratch/tarxz_${new java.io.File(dir).getName}"
    val fd = new java.io.File(outDir)
    if (fd.exists()) fd.listFiles().foreach(_.delete())
    fd.mkdirs()
    val rows = t(s, dir, "documents")
      .filter(col("text").isNotNull &&
        col("doc_id") >= 490 && col("doc_id") < 500)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).collect()
    (0 to 1).foreach { g =>
      val out = new java.io.ByteArrayOutputStream()
      rows.filter(_.getLong(0) % 2 == g).foreach { r =>
        val id = r.getLong(0)
        val body = r.getString(1)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        if (id % 4 < 2) {
          out.write(TarShards.header(s"src/$id.txt", body.length.toLong))
          out.write(body)
          out.write(new Array[Byte]((512 - (body.length % 512)) % 512))
        } else {
          out.write(TarShards.gnuLongEntry(
            s"deep/${"q" * 105}/$id.txt", body))
        }
      }
      out.write(new Array[Byte](1024))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/t$g.tar.xz"),
        Xz.makeXz(out.toByteArray, check = if (g == 0) 4 else 10,
          chunkLen = 2048, rawSplice = g == 1))
    }
    outDir
  }

  /** e99b/d31 shared: binaryFile rows → one row per tar member inside
    * the xz container.
    */
  def tarXzProject(raw: DataFrame): DataFrame = {
    val ex = udf((b: Array[Byte]) =>
      graft.operators.Xz.decompress(b)
        .map(graft.operators.TarShards.walkTar)
        .getOrElse(Vector.empty))
    raw.select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
        explode(ex(col("content"))).as("m"))
      .select(
        regexp_extract(col("m._1"), "([0-9]+)\\.txt$", 1)
          .cast("long").as("doc_id"),
        col("fname"), col("m._1").as("name"),
        col("m._2").as("bytes"), sha2(col("m._3"), 256).as("digest"))
  }

  /** e99d: the SAME tar content as e99b, framed `.tar.gz` — the most
    * common source-tarball form of all — through the STRICT gzip walk
    * (CRC32 + ISIZE verified per member, exact-consume), with the tar
    * bytes cut across TWO gzip members mid-stream. Same docs, distinct
    * archive grouping (3 archives by doc_id % 3) so the two rows can't
    * share accidentally-correct framing.
    */
  def writeTarGzFixture(s: SparkSession, dir: String): String = {
    import graft.operators.TarShards
    val outDir = s"$scratch/targz_${new java.io.File(dir).getName}"
    val fd = new java.io.File(outDir)
    if (fd.exists()) fd.listFiles().foreach(_.delete())
    fd.mkdirs()
    val rows = t(s, dir, "documents")
      .filter(col("text").isNotNull &&
        col("doc_id") >= 490 && col("doc_id") < 500)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).collect()
    (0 to 2).foreach { g =>
      val tar = new java.io.ByteArrayOutputStream()
      rows.filter(_.getLong(0) % 3 == g).foreach { r =>
        val id = r.getLong(0)
        val body = r.getString(1)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        if (id % 2 == 0) {
          tar.write(TarShards.header(s"pkg/$id.txt", body.length.toLong))
          tar.write(body)
          tar.write(new Array[Byte]((512 - (body.length % 512)) % 512))
        } else {
          tar.write(TarShards.gnuLongEntry(
            s"pkg/${"n" * 104}/$id.txt", body))
        }
      }
      tar.write(new Array[Byte](1024))
      val bytes = tar.toByteArray
      val cut = bytes.length / 2
      val bo = new java.io.ByteArrayOutputStream()
      Seq((0, cut), (cut, bytes.length)).foreach { case (from, until) =>
        val gz = new java.util.zip.GZIPOutputStream(bo)
        gz.write(bytes, from, until - from)
        gz.finish()
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/p$g.tar.gz"), bo.toByteArray)
    }
    outDir
  }

  /** e99d: binaryFile rows → one row per tar member inside the gzip
    * stream.
    */
  def tarGzProject(raw: DataFrame): DataFrame = {
    val ex = udf((b: Array[Byte]) =>
      graft.operators.WarcGzip.gunzipStrict(b)
        .map(graft.operators.TarShards.walkTar)
        .getOrElse(Vector.empty))
    raw.select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
        explode(ex(col("content"))).as("m"))
      .select(
        regexp_extract(col("m._1"), "([0-9]+)\\.txt$", 1)
          .cast("long").as("doc_id"),
        col("fname"), col("m._1").as("name"),
        col("m._2").as("bytes"), sha2(col("m._3"), 256).as("digest"))
  }

  /** The e99d construction oracle. */
  val tarGzOracleSql: String =
    """SELECT doc_id,
        'p' || CAST(doc_id % 3 AS VARCHAR) || '.tar.gz' AS fname,
        CASE WHEN doc_id % 2 = 0
          THEN 'pkg/' || doc_id || '.txt'
          ELSE 'pkg/' || repeat('n', 104) || '/' || doc_id || '.txt'
        END AS name,
        CAST(strlen(text) AS BIGINT) AS bytes, sha256(text) AS digest
      FROM documents
      WHERE text IS NOT NULL AND doc_id >= 490 AND doc_id < 500
      ORDER BY doc_id"""

  /** The e99b/d31 construction oracle. */
  val tarXzOracleSql: String =
    """SELECT doc_id,
        't' || CAST(doc_id % 2 AS VARCHAR) || '.tar.xz' AS fname,
        CASE WHEN CAST(doc_id % 4 AS INT) < 2
          THEN 'src/' || doc_id || '.txt'
          ELSE 'deep/' || repeat('q', 105) || '/' || doc_id || '.txt'
        END AS name,
        CAST(strlen(text) AS BIGINT) AS bytes, sha256(text) AS digest
      FROM documents
      WHERE text IS NOT NULL AND doc_id >= 490 AND doc_id < 500
      ORDER BY doc_id"""

  /** e99c: 2 `.jsonl.lzma` shards × 20 documents — the legacy
    * LZMA-alone framing (no container checksum exists in the format),
    * one shard size-declared, one marker-terminated: the end-marker /
    * unknown-size decode path that size-framed LZMA2 chunks never
    * exercise. Same construction-oracle discipline, distinct body
    * formula.
    */
  def writeLzmaFixture(s: SparkSession, dir: String,
      pre: Option[Array[Long]] = None): String = {
    import graft.operators.Xz
    val lDir = s"$scratch/lzma_${new java.io.File(dir).getName}"
    val fd = new java.io.File(lDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val ids = fixtureIds(s, dir, 80, 120, pre)
    ids.grouped(20).zipWithIndex.foreach { case (group, g) =>
      val payload = group.toSeq.map { id =>
        val body = (0 until 30)
          .map(i => ('a' + (id * 13 + i.toLong * 19) % 26).toChar).mkString
        s"""{"doc_id":$id,"body":"$body"}"""
      }.mkString("", "\n", "\n").getBytes("UTF-8")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$lDir/l$g%02d.jsonl.lzma"),
        Xz.makeLzma(payload, knownSize = g == 0))
    }
    lDir
  }

  /** The e99c construction oracle. */
  val lzmaOracleSql: String =
    """WITH d AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
        FROM documents WHERE text IS NOT NULL
          AND doc_id >= 80 AND doc_id < 120)
      SELECT 'l' || lpad(CAST(rn // 20 AS VARCHAR), 2, '0')
          || '.jsonl.lzma' AS fname,
        CAST(rn % 20 AS INTEGER) AS line_no, doc_id,
        array_to_string(list_transform(generate_series(0, 29),
          i -> chr(CAST(97 + (doc_id * 13 + i * 19) % 26 AS INT))), '')
          AS body
      FROM d ORDER BY fname, line_no"""

  /** e100: 8 `.epub` books × 5 chapters over docs 40–80. Chapter
    * XHTML derives from doc_id so the oracle re-creates the STRIPPED
    * text in closed form; the zip stores chapters in REVERSE spine
    * order so reading order provably comes from the OPF spine, not
    * the container.
    */
  def writeEpubFixture(s: SparkSession, dir: String,
      pre: Option[Array[Long]] = None): String = {
    import graft.operators.Epub
    val eDir = s"$scratch/epub_${new java.io.File(dir).getName}"
    val fd = new java.io.File(eDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val ids = fixtureIds(s, dir, 40, 80, pre)
    def word(id: Long, k: Int): String =
      (0 until 3).map(c => ('a' + (id * 37 + k * 41 + c * 43) % 26).toChar).mkString
    ids.grouped(5).zipWithIndex.foreach { case (group, g) =>
      val chapterSeq = group.toSeq.map { id =>
        val ws = (0 until 8).map(k => word(id, k))
        val xhtml =
          s"""<html><head><title></title></head><body>""" +
            s"""<h1 class="hdr">Chapter $id</h1>""" +
            s"""<p>${ws(0)} <em>${ws(1)}</em> ${ws(2)} ${ws(3)} """ +
            s"""<b>${ws(4)}</b> ${ws(5)} ${ws(6)} ${ws(7)}</p></body></html>"""
        (s"ch$id.xhtml", xhtml)
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$eDir/b$g%02d.epub"),
        Epub.makeEpub(chapterSeq))
    }
    eDir
  }

  /** e100/d32 shared: binaryFile rows → one stripped-text row per
    * spine chapter.
    */
  def epubProject(raw: DataFrame): DataFrame =
    graft.operators.Epub.parse(raw)
      .select(col("fname"), col("spine_idx"), col("href"),
        regexp_extract(col("href"), "([0-9]+)", 1)
          .cast("long").as("doc_id"),
        expr("""trim(regexp_replace(
            regexp_replace(xhtml, '<[^>]+>', ' '),
            ' +', ' '))""").as("text"))

  /** The e100/d32 construction oracle: the STRIPPED chapter text in
    * closed form — 'Chapter <id>' plus the eight generated words.
    */
  val epubOracleSql: String =
    """WITH d AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
        FROM documents WHERE text IS NOT NULL
          AND doc_id >= 40 AND doc_id < 80),
      w AS (SELECT doc_id, rn,
          array_to_string(list_transform(generate_series(0, 7),
            k -> array_to_string(list_transform(generate_series(0, 2),
              c -> chr(CAST(97 + (doc_id * 37 + k * 41 + c * 43) % 26 AS INT))), '')),
            ' ') AS words
        FROM d)
      SELECT 'b' || lpad(CAST(rn // 5 AS VARCHAR), 2, '0') || '.epub' AS fname,
        CAST(rn % 5 AS INTEGER) AS spine_idx,
        'ch' || CAST(doc_id AS VARCHAR) || '.xhtml' AS href,
        doc_id,
        'Chapter ' || CAST(doc_id AS VARCHAR) || ' ' || words AS text
      FROM w ORDER BY fname, spine_idx"""

  /** e101: 8 `.docx` files × 5 paragraphs over docs 120–160.
    * Paragraph text derives from doc_id so the oracle re-creates it in
    * closed form; every paragraph carries `&`/`<`/`>` so entity
    * decoding is load-bearing, every paragraph is split across two
    * runs with planted tracked-deletion / field-code / commented-out
    * content that must be EXCLUDED, and the main part's PATH rotates
    * per file so OPC relationship routing (not a hardcoded
    * `word/document.xml`) is what the driver row proves.
    */
  def writeDocxFixture(s: SparkSession, dir: String,
      pre: Option[Array[Long]] = None): String = {
    import graft.operators.Docx
    val dDir = s"$scratch/docx_${new java.io.File(dir).getName}"
    val fd = new java.io.File(dDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val ids = fixtureIds(s, dir, 120, 160, pre)
    def word(id: Long, k: Int): String =
      (0 until 3).map(c => ('a' + (id * 29 + k * 31 + c * 37) % 26).toChar).mkString
    ids.grouped(5).zipWithIndex.foreach { case (group, g) =>
      val paras = group.toSeq.map { id =>
        val ws = (0 until 6).map(k => word(id, k)).mkString(" ")
        s"Para $id $ws a&b <q>"
      }
      val mainPart = if (g % 2 == 0) "word/document.xml" else "content/main.xml"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$dDir/w$g%02d.docx"),
        Docx.makeDocx(paras, mainPart))
    }
    dDir
  }

  /** e101/d33 shared: binaryFile rows → one row per paragraph. */
  def docxProject(raw: DataFrame): DataFrame =
    graft.operators.Docx.parse(raw)
      .select(col("fname"), col("para_idx"),
        regexp_extract(col("text"), "Para ([0-9]+)", 1)
          .cast("long").as("doc_id"),
        col("text"))

  /** The e101/d33 construction oracle: the decoded paragraph text in
    * closed form — entity-bearing tail included raw.
    */
  val docxOracleSql: String =
    """WITH d AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
        FROM documents WHERE text IS NOT NULL
          AND doc_id >= 120 AND doc_id < 160),
      w AS (SELECT doc_id, rn,
          array_to_string(list_transform(generate_series(0, 5),
            k -> array_to_string(list_transform(generate_series(0, 2),
              c -> chr(CAST(97 + (doc_id * 29 + k * 31 + c * 37) % 26 AS INT))), '')),
            ' ') AS words
        FROM d)
      SELECT 'w' || lpad(CAST(rn // 5 AS VARCHAR), 2, '0') || '.docx' AS fname,
        CAST(rn % 5 AS INTEGER) AS para_idx,
        doc_id,
        'Para ' || CAST(doc_id AS VARCHAR) || ' ' || words || ' a&b <q>' AS text
      FROM w ORDER BY fname, para_idx"""

  /** e102/d34 shared: TFRecord shard fixture — the writer IS the
    * operator under test's write side (`TfRecord.writeShards`, a
    * distributed per-partition streaming append): all non-null
    * documents as tf.Example records, 8 shards keyed `doc_id % 8`.
    */
  def writeTfRecordFixture(s: SparkSession, dir: String): String = {
    val outDir = s"$scratch/tfrec_${new java.io.File(dir).getName}"
    graft.operators.TfRecord.writeShards(
      t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("text")),
      outDir, 8)
    outDir
  }

  /** The e102/d34 oracle: the round trip must reproduce the documents
    * table itself.
    */
  val tfRecordOracleSql: String =
    """SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard, text
      FROM documents WHERE text IS NOT NULL ORDER BY doc_id"""

  /** e103/d35: one `.flac` per doc over docs 160–200, PCM a closed
    * form of (doc_id, channel, sample index) so the oracle re-derives
    * per-channel aggregates with its own list arithmetic. Channel
    * count, length and sample rate all rotate with doc_id; lengths of
    * 600–2106 samples at 256-sample blocks run the encoder through
    * every channel-assignment / subframe / Rice-method rotation, and
    * the decoder's MD5 gate makes every decoded sample load-bearing.
    */
  def writeFlacFixture(s: SparkSession, dir: String,
      pre: Option[Array[Long]] = None): String = {
    import graft.operators.Flac
    val fDir = s"$scratch/flac_${new java.io.File(dir).getName}"
    val fd = new java.io.File(fDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val ids = fixtureIds(s, dir, 160, 200, pre)
    ids.foreach { id =>
      val channels = 1 + (id % 2).toInt
      val n = 600 + (id % 7).toInt * 251
      val sr = 8000 + (id % 5).toInt * 1000
      val pcm = Array.tabulate(channels)(ch => Array.tabulate(n)(i =>
        ((id * 31 + ch * 17 + i.toLong * 7) % 2001).toInt - 1000))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$fDir/a$id.flac"),
        Flac.encode(pcm, sr, 16))
    }
    fDir
  }

  /** e103/d35 shared: binaryFile rows → one stats row per recording.
    * The per-channel aggregates are COLUMN ALGEBRA over the decoded
    * PCM arrays (codegen'd higher-order functions, no UDF).
    */
  def flacProject(raw: DataFrame): DataFrame =
    graft.operators.Flac.parse(raw)
      .select(
        col("fname"),
        regexp_extract(col("fname"), "([0-9]+)", 1)
          .cast("long").as("doc_id"),
        col("sample_rate"), col("channels"), col("bps"), col("n_samples"),
        expr("aggregate(pcm[0], 0L, (acc, x) -> acc + x)").as("sum_ch0"),
        expr("array_min(pcm[0])").as("min_ch0"),
        expr("array_max(pcm[0])").as("max_ch0"),
        expr("CASE WHEN channels = 2 THEN " +
          "aggregate(pcm[1], 0L, (acc, x) -> acc + x) END").as("sum_ch1"))

  /** The e103/d35 construction oracle: DuckDB re-derives every decoded
    * sample from the closed form and aggregates with its own list
    * arithmetic — one wrong sample anywhere in the predictor/Rice/
    * decorrelation stack moves a sum and goes red.
    */
  val flacOracleSql: String =
    """WITH d AS (SELECT doc_id FROM documents
        WHERE text IS NOT NULL AND doc_id >= 160 AND doc_id < 200),
      p AS (SELECT doc_id,
          1 + CAST(doc_id % 2 AS INT) AS channels,
          600 + CAST(doc_id % 7 AS INT) * 251 AS n,
          CAST(8000 + (doc_id % 5) * 1000 AS INT) AS sample_rate
        FROM d),
      v AS (SELECT doc_id, channels, n, sample_rate,
          list_transform(generate_series(0, n - 1),
            i -> CAST((doc_id * 31 + i * 7) % 2001 - 1000 AS INT)) AS c0,
          list_transform(generate_series(0, n - 1),
            i -> CAST((doc_id * 31 + 17 + i * 7) % 2001 - 1000 AS INT)) AS c1
        FROM p)
      SELECT 'a' || CAST(doc_id AS VARCHAR) || '.flac' AS fname,
        doc_id, sample_rate, channels, CAST(16 AS INT) AS bps,
        CAST(n AS BIGINT) AS n_samples,
        CAST(list_sum(c0) AS BIGINT) AS sum_ch0,
        list_min(c0) AS min_ch0, list_max(c0) AS max_ch0,
        CASE WHEN channels = 2 THEN CAST(list_sum(c1) AS BIGINT) END AS sum_ch1
      FROM v ORDER BY doc_id"""

  /** e104/d36: 8 `.sqlite` databases × 5 docs over docs 200–240, each
    * a `docs(doc_id INTEGER PRIMARY KEY, body TEXT, nchars INTEGER,
    * score REAL)` table written by the from-scratch writer (real
    * sqlite3 validates it in `SqliteSpec`). doc_id rides the
    * INTEGER-PRIMARY-KEY rowid alias (stored NULL, carried by the
    * rowid — the wild's most common table shape); one body per file
    * repeats past maxLocal so a real overflow chain is load-bearing;
    * rowids are non-contiguous across files.
    */
  def writeSqliteFixture(s: SparkSession, dir: String,
      pre: Option[Array[Long]] = None): String = {
    import graft.operators.Sqlite
    import graft.operators.Sqlite._
    val sDir = s"$scratch/sqlite_${new java.io.File(dir).getName}"
    val fd = new java.io.File(sDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val ids = fixtureIds(s, dir, 200, 240, pre)
    def word(id: Long, k: Int): String =
      (0 until 3).map(c => ('a' + (id * 23 + k * 47 + c * 53) % 26).toChar).mkString
    ids.grouped(5).zipWithIndex.foreach { case (group, g) =>
      val rows = group.toSeq.map { id =>
        val base = s"Doc $id " + (0 until 4).map(k => word(id, k)).mkString(" ")
        val k = if (id % 5 == 2) 240 else 1
        val body = ((base + " ") * k).dropRight(1)
        (id, Seq[SqlValue](SqlInt(id), SqlText(body),
          SqlInt(body.length.toLong), SqlReal(id * 0.25)))
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$sDir/s$g%02d.sqlite"),
        Sqlite.makeDb("docs",
          "CREATE TABLE docs(doc_id INTEGER PRIMARY KEY, body TEXT, " +
            "nchars INTEGER, score REAL)", 0, rows))
    }
    sDir
  }

  /** e104/d36 shared: binaryFile rows → one typed row per table row. */
  def sqliteProject(raw: DataFrame): DataFrame =
    graft.operators.Sqlite.parseDocs(raw)
      .select(col("fname"), col("doc_id"), col("body"),
        col("nchars"), col("score"))

  /** The e104/d36 construction oracle: body text, lengths and scores
    * re-derived in closed form.
    */
  val sqliteOracleSql: String =
    """WITH d AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
        FROM documents WHERE text IS NOT NULL
          AND doc_id >= 200 AND doc_id < 240),
      w AS (SELECT doc_id, rn,
          'Doc ' || CAST(doc_id AS VARCHAR) || ' ' ||
          array_to_string(list_transform(generate_series(0, 3),
            k -> array_to_string(list_transform(generate_series(0, 2),
              c -> chr(CAST(97 + (doc_id * 23 + k * 47 + c * 53) % 26 AS INT))), '')),
            ' ') AS base,
          CASE WHEN doc_id % 5 = 2 THEN 240 ELSE 1 END AS k
        FROM d),
      b AS (SELECT doc_id, rn,
          rtrim(repeat(base || ' ', k)) AS body FROM w)
      SELECT 's' || lpad(CAST(rn // 5 AS VARCHAR), 2, '0') || '.sqlite' AS fname,
        doc_id, body, CAST(length(body) AS BIGINT) AS nchars,
        CAST(doc_id AS DOUBLE) * 0.25 AS score
      FROM b ORDER BY doc_id"""

  /** e105/d37: 8 `.avro` container files × 5 docs over docs 240–280,
    * written by the REFERENCE implementation (org.apache.avro's
    * DataFileWriter, bundled with Spark) with the block codec rotating
    * per file across null/deflate/snappy/zstandard — so the driver row
    * proves our from-scratch reader against real reference output
    * under every codec we carry. Record shape exercises the union and
    * array paths: (long doc_id, string body, union{null,int} stars,
    * array<double> emb).
    */
  def writeAvroFixture(s: SparkSession, dir: String,
      pre: Option[Array[Long]] = None): String = {
    import org.apache.avro.{Schema => ASchema}
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.file.{CodecFactory, DataFileWriter}
    val aDir = s"$scratch/avro_${new java.io.File(dir).getName}"
    val fd = new java.io.File(aDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val ids = fixtureIds(s, dir, 240, 280, pre)
    def word(id: Long, k: Int): String =
      (0 until 3).map(c => ('a' + (id * 19 + k * 59 + c * 61) % 26).toChar).mkString
    val schemaJson =
      """{"type":"record","name":"Doc","fields":[
        |{"name":"doc_id","type":"long"},
        |{"name":"body","type":"string"},
        |{"name":"stars","type":["null","int"]},
        |{"name":"emb","type":{"type":"array","items":"double"}}]}""".stripMargin
    val codecs = Seq(CodecFactory.nullCodec(), CodecFactory.deflateCodec(6),
      CodecFactory.snappyCodec(), CodecFactory.zstandardCodec(3))
    ids.grouped(5).zipWithIndex.foreach { case (group, g) =>
      val schema = new ASchema.Parser().parse(schemaJson)
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      w.setCodec(codecs(g % 4))
      w.create(schema, new java.io.File(f"$aDir/a$g%02d.avro"))
      group.foreach { id =>
        val r = new GenericData.Record(schema)
        r.put("doc_id", id)
        r.put("body", s"Avro doc $id " + (0 until 4).map(k => word(id, k)).mkString(" "))
        r.put("stars", if (id % 3 == 0) null else Integer.valueOf((id % 7).toInt))
        val emb = new java.util.ArrayList[java.lang.Double]()
        (0 until 4).foreach(j => emb.add(id * 0.5 + j))
        r.put("emb", emb)
        w.append(r)
      }
      w.close()
    }
    aDir
  }

  /** e105/d37 shared: binaryFile rows → one typed row per record. */
  def avroProject(raw: DataFrame): DataFrame =
    graft.operators.AvroOcf.parseDocs(raw)
      .select(col("fname"), col("rec_idx"), col("doc_id"), col("body"),
        col("stars"), col("esum"))

  /** The e105/d37 construction oracle: body, stars and the embedding
    * sum re-derived in closed form (sum of doc_id*0.5 + j over j<4 =
    * 2*doc_id + 6, exact in binary).
    */
  val avroOracleSql: String =
    """WITH d AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
        FROM documents WHERE text IS NOT NULL
          AND doc_id >= 240 AND doc_id < 280),
      w AS (SELECT doc_id, rn,
          'Avro doc ' || CAST(doc_id AS VARCHAR) || ' ' ||
          array_to_string(list_transform(generate_series(0, 3),
            k -> array_to_string(list_transform(generate_series(0, 2),
              c -> chr(CAST(97 + (doc_id * 19 + k * 59 + c * 61) % 26 AS INT))), '')),
            ' ') AS body
        FROM d)
      SELECT 'a' || lpad(CAST(rn // 5 AS VARCHAR), 2, '0') || '.avro' AS fname,
        CAST(rn % 5 AS INTEGER) AS rec_idx, doc_id, body,
        CASE WHEN doc_id % 3 = 0 THEN NULL
          ELSE CAST(doc_id % 7 AS INTEGER) END AS stars,
        CAST(2 * doc_id + 6 AS DOUBLE) AS esum
      FROM w ORDER BY doc_id"""

  /** e106/d38: 8 multi-page `.tiff` files × 5 pages over docs 280–320
    * — one page per doc, page geometry/photometric/compression all
    * rotating with doc_id, byte order alternating per FILE. Three page
    * classes rotate (r13): doc_id%5==2 → BILEVEL (larger geometry so
    * the CCITT runs are real; G4 when doc_id is even, PackBits-packed
    * bits when odd); doc_id%5==4 → TILED 8-bit (16×16 tiles, edge
    * clipping live on every page); everything else the r12 strip
    * layout (none/LZW/PackBits; gray and RGB; strips of 2 rows).
    * Pixels are a closed form of (doc_id, flat index) so the oracle
    * re-derives every channel mean with its own list arithmetic —
    * bilevel pixels are 255·(((id·31+k·7)%251)%2), matching the
    * decoder's black=0/white=255 normalization.
    */
  def writeTiffFixture(s: SparkSession, dir: String,
      pre: Option[Array[Long]] = None): String = {
    import graft.operators.Tiff
    val tDir = s"$scratch/tiff_${new java.io.File(dir).getName}"
    val fd = new java.io.File(tDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val ids = fixtureIds(s, dir, 280, 320, pre)
    ids.grouped(5).zipWithIndex.foreach { case (group, g) =>
      val pages = group.toSeq.map { id =>
        if (id % 5 == 2) { // bilevel: G4 / MH 1-D / PackBits / G3-EOL
          val w = 150 + (id % 4).toInt * 37
          val h = 18 + (id % 3).toInt * 7
          val comp = Seq(4, 2, 32773, 3)((id % 4).toInt)
          val f: Int => Byte =
            k => if (((id * 31 + k * 7) % 251) % 2 == 0) 0 else 255.toByte
          Tiff.PageSpec(w, h, 1, 1, 0, comp, f,
            // G3 pages rotate the T4Options forms: 1-D/2-D × plain/
            // aligned EOLs
            t4opts = if (comp == 3) Seq(0, 4, 1, 5)(((id / 4) % 4).toInt) else 0)
        } else if (id % 5 == 4) { // tiled 8-bit
          val w = 20 + (id % 7).toInt * 3
          val h = 17 + (id % 2).toInt * 16
          val spp = 1 + 2 * (id % 2).toInt
          val f: Int => Byte = k => (((id * 31 + k * 7) % 251) & 0xff).toByte
          Tiff.PageSpec(w, h, spp, 8, if (spp == 3) 2 else 1,
            Seq(1, 5, 32773)((id % 3).toInt), f, tile = Some((16, 16)))
        } else { // r12 strip layout
          val w = 6 + (id % 5).toInt
          val h = 4 + (id % 3).toInt
          val spp = 1 + 2 * (id % 2).toInt
          val f: Int => Byte = k => (((id * 31 + k * 7) % 251) & 0xff).toByte
          Tiff.PageSpec(w, h, spp, 8, if (spp == 3) 2 else 1,
            Seq(1, 5, 32773)((id % 3).toInt), f)
        }
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$tDir/t$g%02d.tiff"),
        Tiff.makeTiffExt(pages, littleEndian = g % 2 == 0))
    }
    tDir
  }

  /** e106/d38 shared: binaryFile rows → one stats row per PAGE. */
  def tiffProject(raw: DataFrame): DataFrame =
    graft.operators.Tiff.parse(raw)
      .select(col("fname"), col("page"), col("width"), col("height"),
        col("spp"), col("mean0"), col("mean1"), col("mean2"))

  /** The e106/d38 construction oracle: channel means re-derived from
    * the (doc_id, interleaved index) closed form.
    */
  val tiffOracleSql: String =
    """WITH d AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
        FROM documents WHERE text IS NOT NULL
          AND doc_id >= 280 AND doc_id < 320),
      geo AS (SELECT doc_id, rn,
          (doc_id % 5 = 2) AS bil,
          CASE WHEN doc_id % 5 = 2 THEN 150 + CAST(doc_id % 4 AS INT) * 37
               WHEN doc_id % 5 = 4 THEN 20 + CAST(doc_id % 7 AS INT) * 3
               ELSE 6 + CAST(doc_id % 5 AS INT) END AS w,
          CASE WHEN doc_id % 5 = 2 THEN 18 + CAST(doc_id % 3 AS INT) * 7
               WHEN doc_id % 5 = 4 THEN 17 + CAST(doc_id % 2 AS INT) * 16
               ELSE 4 + CAST(doc_id % 3 AS INT) END AS h,
          CASE WHEN doc_id % 5 = 2 THEN 1
               ELSE 1 + 2 * CAST(doc_id % 2 AS INT) END AS spp
        FROM d),
      m AS (SELECT doc_id, rn, w, h, spp,
          CASE WHEN bil THEN
            round(CAST(list_sum(list_transform(generate_series(0, w*h - 1),
              i -> 255 * (((doc_id*31 + i*7) % 251) % 2))) AS DOUBLE) / (w*h), 6)
          ELSE
            round(CAST(list_sum(list_transform(generate_series(0, w*h - 1),
              i -> (doc_id*31 + (i*spp + 0)*7) % 251)) AS DOUBLE) / (w*h), 6)
          END AS mean0,
          CASE WHEN spp = 3 THEN
            round(CAST(list_sum(list_transform(generate_series(0, w*h - 1),
              i -> (doc_id*31 + (i*spp + 1)*7) % 251)) AS DOUBLE) / (w*h), 6) END AS mean1,
          CASE WHEN spp = 3 THEN
            round(CAST(list_sum(list_transform(generate_series(0, w*h - 1),
              i -> (doc_id*31 + (i*spp + 2)*7) % 251)) AS DOUBLE) / (w*h), 6) END AS mean2
        FROM geo)
      SELECT 't' || lpad(CAST(rn // 5 AS VARCHAR), 2, '0') || '.tiff' AS fname,
        CAST(rn % 5 AS INTEGER) AS page, w AS width, h AS height, spp,
        mean0, mean1, mean2
      FROM m ORDER BY fname, page"""

  /** e107/d39: one `.mp3` per doc over docs 320–360 — MPEG-1 Layer
    * III frames with sample rate, channel mode, CBR-vs-VBR shape,
    * frame count and tag placement (ID3v2 prefix / ID3v1 tail) all
    * rotating with doc_id, so the oracle re-derives every framing
    * stat — including the VBR mean over the per-frame bitrate
    * rotation — from the spec's own tables in closed form. r13 adds
    * Xing-headed VBR (doc_id%5==3) and Info-headed CBR (doc_id%5==4)
    * files whose leading metadata frame must be EXCLUDED from every
    * stat: the physical file holds n+1 frames but the oracle's n —
    * exactly the closed-form-vs-byte-estimate divergence the header
    * exists to resolve.
    */
  def writeMp3Fixture(s: SparkSession, dir: String,
      pre: Option[Array[Long]] = None): String = {
    import graft.operators.Mp3
    val mDir = s"$scratch/mp3_${new java.io.File(dir).getName}"
    val fd = new java.io.File(mDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val ids = fixtureIds(s, dir, 320, 360, pre)
    ids.foreach { id =>
      val n = 6 + (id % 9).toInt
      val vbr = id % 5 < 2
      // r13: Xing-headed VBR (doc_id%5==3) and Info-headed CBR
      // (doc_id%5==4) — a leading metadata frame the walk must exclude
      // from every emitted stat; its declared count/bytes are enforced
      val xing = id % 5 == 3
      val cbrInfo = id % 5 == 4
      val out = new java.io.ByteArrayOutputStream()
      if (id % 4 == 0) out.write(Mp3.makeId3v2(50 + (id % 30).toInt))
      val audio = new java.io.ByteArrayOutputStream()
      (0 until n).foreach { j =>
        val brIdx = if (vbr || xing) 2 + ((id + j) % 12).toInt else 2 + (id % 12).toInt
        audio.write(Mp3.makeFrame(3, 3, brIdx, (id % 3).toInt,
          padding = j % 2 == 0, mono = id % 2 == 1, seed = (id + j).toInt))
      }
      if (xing || cbrInfo)
        // the metadata frame rides a fixed 160 kbps so the TOC always
        // fits; its own bitrate is excluded from every stat by contract
        out.write(Mp3.makeXingFrame(3, 3, 9, (id % 3).toInt,
          mono = id % 2 == 1, magic = if (xing) "Xing" else "Info",
          declaredFrames = n, audioBytes = audio.size().toLong,
          withBytes = id % 2 == 0, withToc = id % 3 == 0,
          withQuality = id % 7 == 0, seed = id.toInt))
      out.write(audio.toByteArray)
      if (id % 5 == 0) out.write(Mp3.makeId3v1())
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$mDir/m$id.mp3"), out.toByteArray)
    }
    mDir
  }

  /** e107/d39 shared: binaryFile rows → one framing row per file. */
  def mp3Project(raw: DataFrame): DataFrame =
    graft.operators.Mp3.parse(raw)
      .select(col("fname"),
        regexp_extract(col("fname"), "([0-9]+)", 1)
          .cast("long").as("doc_id"),
        col("n_frames"), col("total_samples"), col("sample_rate"),
        col("channels"), col("vbr"), col("duration_ms"), col("mean_kbps"))

  /** The e107/d39 construction oracle: framing stats from the spec
    * tables in closed form (MPEG-1 Layer III bitrate table inlined).
    */
  val mp3OracleSql: String =
    """WITH d AS (SELECT doc_id FROM documents
        WHERE text IS NOT NULL AND doc_id >= 320 AND doc_id < 360),
      p AS (SELECT doc_id,
          6 + CAST(doc_id % 9 AS INT) AS n,
          (doc_id % 5 < 2 OR doc_id % 5 = 3) AS vbr,
          list_extract([44100, 48000, 32000],
            CAST(doc_id % 3 AS INT) + 1) AS sample_rate,
          CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END AS channels
        FROM d),
      br AS (SELECT doc_id, n, vbr, sample_rate, channels,
          CASE WHEN vbr THEN
            CAST(list_sum(list_transform(generate_series(0, n - 1),
              j -> list_extract([40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256],
                CAST((doc_id + j) % 12 AS INT) + 1))) AS DOUBLE) / n
          ELSE CAST(list_extract([40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256],
            CAST(doc_id % 12 AS INT) + 1) AS DOUBLE) END AS mean_kbps
        FROM p)
      SELECT 'm' || CAST(doc_id AS VARCHAR) || '.mp3' AS fname, doc_id,
        n AS n_frames, CAST(n AS BIGINT) * 1152 AS total_samples,
        CAST(sample_rate AS INT) AS sample_rate, CAST(channels AS INT) AS channels,
        vbr, round(CAST(n AS BIGINT) * 1152 * 1000.0 / sample_rate, 6) AS duration_ms,
        round(mean_kbps, 6) AS mean_kbps
      FROM br ORDER BY doc_id"""

  /** e108/d40: one Ogg file per doc over docs 360–400 — codec
    * (Opus/Vorbis), channels, rates, packet counts and page layout all
    * rotating with doc_id; every fourth file plants a page-spanning
    * packet so the continued-packet lacing path is load-bearing in the
    * driver row, not just the spec.
    */
  def writeOggFixture(s: SparkSession, dir: String,
      pre: Option[Array[Long]] = None): String = {
    import graft.operators.Ogg
    val oDir = s"$scratch/ogg_${new java.io.File(dir).getName}"
    val fd = new java.io.File(oDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val ids = fixtureIds(s, dir, 360, 400, pre)
    ids.foreach { id =>
      val n = 5 + (id % 6).toInt
      val audio = (0 until n).map { j =>
        val len = if (id % 4 == 0 && j == n / 2) 700 else 40 + ((id + j) % 30).toInt
        Array.tabulate(len)(k => ((id * 13 + j * 7 + k) % 128).toByte)
      }
      val bytes = if (id % 2 == 0) {
        Ogg.makeFile(
          Ogg.makeOpusHead(1 + (if (id % 3 == 0) 1 else 0), 312,
            16000 * (1 + (id % 3).toInt)),
          "OpusTags".getBytes("ISO-8859-1"), audio, serial = id,
          granulePerPacket = 960L, preSkip = 312L)
      } else {
        Ogg.makeFile(
          Ogg.makeVorbisIdent(2, Seq(44100, 48000, 32000)((id % 3).toInt)),
          ("vorbis" + "c" * 8).getBytes("ISO-8859-1"), audio, serial = id,
          granulePerPacket = 1024L, preSkip = 0L)
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$oDir/g$id.ogg"), bytes)
    }
    oDir
  }

  /** e108/d40 shared: binaryFile rows → one container row per file. */
  def oggProject(raw: DataFrame): DataFrame =
    graft.operators.Ogg.parse(raw)
      .select(col("fname"),
        regexp_extract(col("fname"), "([0-9]+)", 1)
          .cast("long").as("doc_id"),
        col("codec"), col("channels"), col("sample_rate"),
        col("n_pages"), col("n_packets"), col("duration_ms"))

  /** The e108/d40 construction oracle: codec fields, page/packet
    * counts (including the split-packet extra page) and granule-clock
    * durations re-derived in closed form.
    */
  val oggOracleSql: String =
    """WITH d AS (SELECT doc_id FROM documents
        WHERE text IS NOT NULL AND doc_id >= 360 AND doc_id < 400),
      p AS (SELECT doc_id,
          5 + CAST(doc_id % 6 AS INT) AS n,
          (doc_id % 2 = 0) AS is_opus,
          CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS split
        FROM d)
      SELECT 'g' || CAST(doc_id AS VARCHAR) || '.ogg' AS fname, doc_id,
        CASE WHEN is_opus THEN 'opus' ELSE 'vorbis' END AS codec,
        CASE WHEN is_opus THEN
          CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END
        ELSE 2 END AS channels,
        CAST(CASE WHEN is_opus THEN 16000 * (1 + CAST(doc_id % 3 AS INT))
          ELSE list_extract([44100, 48000, 32000], CAST(doc_id % 3 AS INT) + 1)
        END AS INT) AS sample_rate,
        2 + n + split AS n_pages,
        2 + n AS n_packets,
        CASE WHEN is_opus THEN round(n * 960 * 1000.0 / 48000, 6)
          ELSE round(n * 1024 * 1000.0 /
            list_extract([44100, 48000, 32000], CAST(doc_id % 3 AS INT) + 1), 6)
        END AS duration_ms
      FROM p ORDER BY doc_id"""

  /** e109/d41: one WebM/Matroska file per doc over docs 400–440 —
    * track layout (A/V, video-only, audio-only), doctype, codecs,
    * geometry, TimestampScale and cluster/block shape all rotating
    * with doc_id; Info carries a CRC-32 element so the verified-CRC
    * path is load-bearing in the driver row.
    */
  def writeWebmFixture(s: SparkSession, dir: String,
      pre: Option[Array[Long]] = None): String = {
    import graft.operators.Webm
    import graft.operators.Webm.Track
    val wDir = s"$scratch/webm_${new java.io.File(dir).getName}"
    val fd = new java.io.File(wDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val ids = fixtureIds(s, dir, 400, 440, pre)
    ids.foreach { id =>
      val video = Track(1, if (id % 2 == 0) "V_VP9" else "V_VP8",
        640 + (id % 5).toInt * 16, 360 + (id % 3).toInt * 24, -1, -1)
      val audio = Track(2, if (id % 2 == 0) "A_OPUS" else "A_VORBIS",
        -1, -1, if (id % 2 == 0) 48000.0 else 44100.0, 1 + (id % 2).toInt)
      val tracks = (id % 3) match {
        case 0 => Seq(video, audio)
        case 1 => Seq(video)
        case _ => Seq(audio)
      }
      val nClusters = 2 + (id % 4).toInt
      val blocks = (0 until nClusters).map(ci => 1 + ((id + ci) % 3).toInt)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$wDir/v$id.webm"),
        Webm.makeWebm(if (id % 2 == 0) "webm" else "matroska",
          durationTicks = 1000.0 + id * 10,
          tsScale = if (id % 4 == 0) 2000000L else 1000000L,
          tracks = tracks, blocksPerCluster = blocks))
    }
    wDir
  }

  /** e109/d41 shared: binaryFile rows → one container row per file. */
  def webmProject(raw: DataFrame): DataFrame =
    graft.operators.Webm.parse(raw)
      .select(col("fname"),
        regexp_extract(col("fname"), "([0-9]+)", 1)
          .cast("long").as("doc_id"),
        col("doc_type"), col("duration_ms"), col("n_tracks"),
        col("video_codec"), col("video_w"), col("video_h"),
        col("audio_codec"), col("audio_rate"), col("audio_channels"),
        col("n_clusters"), col("n_blocks"))

  /** The e109/d41 construction oracle: container fields re-derived in
    * closed form, including the TimestampScale duration arithmetic
    * and the per-cluster block-count sum.
    */
  val webmOracleSql: String =
    """WITH d AS (SELECT doc_id FROM documents
        WHERE text IS NOT NULL AND doc_id >= 400 AND doc_id < 440),
      p AS (SELECT doc_id,
          CAST(doc_id % 3 AS INT) AS kind,
          (doc_id % 2 = 0) AS even,
          2 + CAST(doc_id % 4 AS INT) AS ncl,
          CASE WHEN doc_id % 4 = 0 THEN 2000000 ELSE 1000000 END AS ts
        FROM d)
      SELECT 'v' || CAST(doc_id AS VARCHAR) || '.webm' AS fname, doc_id,
        CASE WHEN even THEN 'webm' ELSE 'matroska' END AS doc_type,
        round((1000.0 + doc_id * 10) * ts / 1000000.0, 6) AS duration_ms,
        CASE WHEN kind = 0 THEN 2 ELSE 1 END AS n_tracks,
        CASE WHEN kind = 2 THEN NULL
          WHEN even THEN 'V_VP9' ELSE 'V_VP8' END AS video_codec,
        CASE WHEN kind = 2 THEN NULL
          ELSE 640 + CAST(doc_id % 5 AS INT) * 16 END AS video_w,
        CASE WHEN kind = 2 THEN NULL
          ELSE 360 + CAST(doc_id % 3 AS INT) * 24 END AS video_h,
        CASE WHEN kind = 1 THEN NULL
          WHEN even THEN 'A_OPUS' ELSE 'A_VORBIS' END AS audio_codec,
        CAST(CASE WHEN kind = 1 THEN NULL
          WHEN even THEN 48000.0 ELSE 44100.0 END AS DOUBLE) AS audio_rate,
        CASE WHEN kind = 1 THEN NULL
          ELSE 1 + CAST(doc_id % 2 AS INT) END AS audio_channels,
        ncl AS n_clusters,
        CAST(list_sum(list_transform(generate_series(0, ncl - 1),
          ci -> 1 + (doc_id + ci) % 3)) AS INT) AS n_blocks
      FROM p ORDER BY doc_id"""

  /** e110/d42: 8 `.7z` archives × 5 docs over docs 440–480 — the
    * coder (copy/LZMA/LZMA2), the folder layout (SOLID single-stream
    * vs one folder per file) and the header form (plain vs ENCODED)
    * all rotating per archive; one member per archive repeats past
    * 4 KiB so real compression is load-bearing.
    */
  def writeSevenZipFixture(s: SparkSession, dir: String,
      pre: Option[Array[Long]] = None): String = {
    import graft.operators.SevenZip
    val zDir = s"$scratch/sevenzip_${new java.io.File(dir).getName}"
    val fd = new java.io.File(zDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val ids = fixtureIds(s, dir, 440, 480, pre)
    def word(id: Long, k: Int): String =
      (0 until 3).map(c => ('a' + (id * 17 + k * 67 + c * 71) % 26).toChar).mkString
    ids.grouped(5).zipWithIndex.foreach { case (group, g) =>
      val members = group.toSeq.map { id =>
        val base = s"7z doc $id " + (0 until 4).map(k => word(id, k)).mkString(" ")
        val k = if (id % 5 == 1) 160 else 1
        (s"doc$id.txt",
          ((base + " ") * k).dropRight(1).getBytes("UTF-8"))
      }
      // r13/r14: classes 4–6 are the two-coder bind-pair folders (x86
      // BCJ, ARM64 BCJ, delta dist-4) and class 7 is the four-stream
      // BCJ2 graph — the driver row exercises the folder STRUCTURES
      // end to end (bind-pair parse, multi-pack-stream slots, chain
      // decode, per-out-stream sizes); the conversion arithmetic is
      // pinned by the xz --x86/--arm64/--delta differential interop
      // and the libarchive (bsdtar) BCJ2 extraction interop (ASCII
      // members contain no branch opcodes, but delta transforms every
      // byte and BCJ2's range-coded rc stream is live regardless)
      val coder = Seq("copy", "lzma", "lzma2", "bcj-lzma2",
        "arm64-lzma2", "delta4-lzma2", "bcj2-lzma2")(g % 7)
      val folders =
        if (g % 2 == 0) Seq((coder, members)) // solid
        else members.map(m => (coder, Seq(m)))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$zDir/a$g%02d.7z"),
        SevenZip.makeArchive(folders, encodedHeader = g % 4 < 2))
    }
    zDir
  }

  /** e110/d42 shared: binaryFile rows → one text row per member. */
  def sevenZipProject(raw: DataFrame): DataFrame =
    graft.operators.SevenZip.parse(raw)
      .select(col("fname"), col("member"),
        regexp_extract(col("member"), "([0-9]+)", 1)
          .cast("long").as("doc_id"),
        col("text"))

  /** The e110/d42 construction oracle: member names and decompressed
    * text re-derived in closed form.
    */
  val sevenZipOracleSql: String =
    """WITH d AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
        FROM documents WHERE text IS NOT NULL
          AND doc_id >= 440 AND doc_id < 480),
      w AS (SELECT doc_id, rn,
          '7z doc ' || CAST(doc_id AS VARCHAR) || ' ' ||
          array_to_string(list_transform(generate_series(0, 3),
            k -> array_to_string(list_transform(generate_series(0, 2),
              c -> chr(CAST(97 + (doc_id * 17 + k * 67 + c * 71) % 26 AS INT))), '')),
            ' ') AS base,
          CASE WHEN doc_id % 5 = 1 THEN 160 ELSE 1 END AS k
        FROM d)
      SELECT 'a' || lpad(CAST(rn // 5 AS VARCHAR), 2, '0') || '.7z' AS fname,
        'doc' || CAST(doc_id AS VARCHAR) || '.txt' AS member,
        doc_id, rtrim(repeat(base || ' ', k)) AS text
      FROM w ORDER BY doc_id"""

  /** e97/e97b shared: write the 4-file MediaWiki export fixture —
    * plain XML, or bzip2-compressed via the in-repo encoder when
    * `bz2` is set (the form Wikipedia actually publishes). */
  def writeWikiFixture(s: SparkSession, dir: String, bz2: Boolean): String = {
    val suffix = if (bz2) "bz" else "xml"
    val wDir = s"$scratch/wiki${suffix}_${new java.io.File(dir).getName}"
    val fd = new java.io.File(wDir)
    java.nio.file.Files.createDirectories(fd.toPath)
    fd.listFiles().foreach(_.delete())
    val rows = t(s, dir, "documents")
      .filter(col("text").isNotNull &&
        col("doc_id") >= 400 && col("doc_id") < 450)
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .filter(size(col("toks")) >= 6)
      .select(col("doc_id"), col("toks")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1))).sortBy(_._1)
    def tok(ts: Seq[String], i: Int): String =
      ts(i - 1).replaceAll("[^a-z]", "")
    (0 until 4).foreach { g =>
      val pages = rows.filter(_._1 % 4 == g).map { case (id, ts) =>
        val wiki = s"The '''${tok(ts, 1)}''' links [[${tok(ts, 2)}|" +
          s"${tok(ts, 3)}]] and [[${tok(ts, 4)}]].{{Infobox box}} More " +
          s"''${tok(ts, 5)}''<ref name=\"a\">cite $id</ref> end.\n" +
          s"== See also ==\nTail ${id % 13}"
        val escaped = wiki.replace("&", "&amp;")
          .replace("<", "&lt;").replace(">", "&gt;")
        val ns = if (id % 7 == 3) 10 else 0
        val redirect =
          if (id % 11 == 5) "<redirect title=\"Other\" />" else ""
        s"<page>\n<title>Page $id</title>\n<ns>$ns</ns>\n<id>$id</id>\n" +
          redirect +
          s"<revision><id>${id}00</id><text bytes=\"${escaped.length}\">" +
          escaped + "</text></revision>\n</page>"
      }.mkString("\n")
      val xml = ("<mediawiki>\n" + pages + "\n</mediawiki>").getBytes("UTF-8")
      val (name, bytes) =
        if (bz2) (s"dump$g.xml.bz2", graft.operators.Bzip2.compress(xml))
        else (s"dump$g.xml", xml)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$wDir/$name"), bytes)
    }
    wDir
  }

  /** e97b/d26 shared: bzip2-decompress a binary column to the XML
    * string (None → null row for an undecodable shard). */
  val bz2ToXml = udf((b: Array[Byte]) =>
    graft.operators.Bzip2.decompress(b).map(new String(_, "UTF-8")))

  /** e97/e97b shared: pages out of an `xml`-columned relation — scoped
    * block extraction, ns/redirect filters, XML unescape, and the
    * wikitext cleanup chain. */
  def wikiProject(raw: DataFrame): DataFrame =
    raw.select(explode(regexp_extract_all(col("xml"),
        lit("(?s)<page>(.*?)</page>"), lit(1))).as("page"))
      .filter(regexp_extract(col("page"), "<ns>([0-9]+)</ns>", 1) === "0")
      .filter(!col("page").contains("<redirect"))
      .select(
        regexp_extract(col("page"), "<id>([0-9]+)</id>", 1)
          .cast("long").as("page_id"),
        regexp_extract(col("page"), "<title>([^<]*)</title>", 1).as("title"),
        regexp_extract(col("page"),
          "(?s)<text bytes=\"[0-9]*\">(.*?)</text>", 1).as("raw"))
      .withColumn("unescaped",
        expr("replace(replace(replace(raw, '&lt;', '<'), '&gt;', '>'), '&amp;', '&')"))
      .withColumn("clean",
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(regexp_replace(
            col("unescaped"),
            "\\{\\{.*?\\}\\}", ""),
            "(?s)<ref[^>]*>.*?</ref>", ""),
            "\\[\\[([^|\\]]*)\\|([^\\]]*)\\]\\]", "$2"),
            "\\[\\[([^\\]]*)\\]\\]", "$1"),
            "'''", ""),
            "''", ""),
            "(?m)^==+ *(.*?) *==+$", "$1"))
      .select(col("page_id"), col("title"), col("clean"))

  /** The e97/e97b oracle: the expected CLEANED text built directly
    * from token construction — an independent closed form covering
    * escape round-trip, page scoping, both filters and every cleanup
    * rule. */
  val wikiOracleSql: String =
    """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        FROM documents WHERE text IS NOT NULL
          AND doc_id >= 400 AND doc_id < 450),
      f AS (SELECT doc_id, toks FROM d
        WHERE len(toks) >= 6 AND doc_id % 7 <> 3 AND doc_id % 11 <> 5),
      tk AS (SELECT doc_id,
          regexp_replace(toks[1], '[^a-z]', '', 'g') AS t1,
          regexp_replace(toks[3], '[^a-z]', '', 'g') AS t3,
          regexp_replace(toks[4], '[^a-z]', '', 'g') AS t4,
          regexp_replace(toks[5], '[^a-z]', '', 'g') AS t5
        FROM f)
      SELECT doc_id AS page_id, 'Page ' || doc_id AS title,
        'The ' || t1 || ' links ' || t3 || ' and ' || t4 || '. More '
          || t5 || ' end.' || chr(10) || 'See also' || chr(10)
          || 'Tail ' || doc_id % 13 AS clean
      FROM tk ORDER BY page_id"""

  /** Construction oracle for the PDF fixture — shared by e72 and d22. */
  val pdfOracleSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
          CAST(doc_id % 5 AS INT) AS m
        FROM documents WHERE text IS NOT NULL AND doc_id < 40),
      f AS (SELECT doc_id, toks, m FROM d WHERE len(toks) >= 14),
      j AS (SELECT doc_id, m,
          array_to_string(toks[1:8], ' ') AS j1,
          array_to_string(toks[9:11], ' ') AS l1,
          array_to_string(toks[12:14], ' ') AS l2
        FROM f),
      pg AS (
        SELECT doc_id, 0 AS page,
          CASE WHEN m = 4 THEN 'A(B)\C ' || j1 || chr(10) || 'end.'
            ELSE j1 END AS text
        FROM j
        UNION ALL SELECT doc_id, 1, l1 || chr(10) || l2 FROM j)
      SELECT 'p' || lpad(CAST(doc_id AS VARCHAR), 4, '0') || '.pdf' AS fname,
        CAST(page AS INT) AS page, text
      FROM pg ORDER BY fname, page"""

  val queries: Map[String, QueryDef] = Map(
    // E40 — line-frequency boilerplate removal (the RefinedWeb/CCNet line
    // dedup pass): drop every line that occurs in >= tau distinct
    // documents across the corpus (navigation, cookie banners, footers),
    // keep the rest in original order. The fixture builds multi-line
    // content deterministically from the documents table — 8-token
    // content lines plus planted boilerplate (a universal header/footer
    // on every doc, a third line on even doc_ids) — so the operator must
    // remove exactly the high-df lines while the oracle re-derives the
    // same frequencies from the same construction.
    //
    // Shape at 100 TB: one exploded-line pass feeds (a) the df aggregate
    // (partial+final hash agg keyed on line text; at production scale key
    // on xxhash64(line) to bound shuffle width — kept as text here for
    // 1:1 DuckDB pairing) and (b) the keep-join: lines x (line, df) is an
    // equi-join whose build side has ONE row per distinct line, so hot
    // boilerplate lines fan out on the probe side only — no pair
    // explosion. Reassembly is a per-doc_id group (bounded by doc
    // length). The rejected alternative — df via a window over
    // partitionBy(line) — would hold unbounded per-key state on exactly
    // the hottest keys.
    "e40_line_dedup" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(col("text").isNotNull)
          .withColumn("lines", expr(
            """concat(
                 array('subscribe to our newsletter'),
                 transform(sequence(0, CAST((size(split(text, ' ')) - 1) / 8 AS INT)),
                   i -> array_join(slice(split(text, ' '), i * 8 + 1, 8), ' ')),
                 array('all rights reserved'),
                 if(doc_id % 2 = 0, array('cookie policy accept'), array()))"""))
        // r19: materialize the constructed corpus once — LineDedup.clean
        // consumes its input three times (df table, line explode, n_lines
        // join), and each consumer re-evaluated the per-doc line
        // construction above. localCheckpoint per the r19 text-payload A/B
        // (persist measured 20-40% slower on string columns).
        graft.operators.LineDedup.clean(
            docs.select(col("doc_id"), array_join(col("lines"), "\n").as("content"))
              .localCheckpoint(),
            tau = 10)
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id,
            list_concat(list_concat(list_concat(
              ['subscribe to our newsletter'],
              list_transform(generate_series(0, (len(string_split(text, ' ')) - 1) // 8),
                i -> array_to_string(string_split(text, ' ')[i*8 + 1 : i*8 + 8], ' '))),
              ['all rights reserved']),
              CASE WHEN doc_id % 2 = 0 THEN ['cookie policy accept'] ELSE [] END) AS lines
          FROM documents WHERE text IS NOT NULL),
        l AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, d.lines[i] AS ln
          FROM d, UNNEST(generate_series(1, len(d.lines))) AS u(i)),
        f AS (SELECT ln, count(DISTINCT doc_id) AS df FROM l GROUP BY ln),
        k AS (SELECT l.doc_id, l.pos, l.ln FROM l JOIN f USING (ln) WHERE f.df < 10),
        c AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
            array_to_string(list(ln ORDER BY pos), chr(10)) AS cleaned
          FROM k GROUP BY doc_id)
        SELECT d.doc_id, CAST(len(d.lines) AS INT) AS n_lines,
          coalesce(c.n_kept, 0) AS n_kept, coalesce(c.cleaned, '') AS cleaned
        FROM d LEFT JOIN c USING (doc_id) ORDER BY d.doc_id""")),

    // E48 — substring/span dedup (operators.SpanDedup): exact duplicated
    // TOKEN SPANS across documents — the dedup modality between
    // doc-level (e01/e02) and line-level (e40); the capability of Lee et
    // al. arXiv:2107.06499 re-expressed as shingle-df + island merge
    // (their suffix array is single-machine machinery). Fixture: a fixed
    // 24-token passage (dup0..dup23 — tokens that cannot occur in the
    // documents text) is spliced after the 8th token of every
    // doc_id%5==2 document, so the ground-truth maximal spans are
    // construction arithmetic: span_start=8, span_len=24 in exactly
    // those docs (boundary shingles mix with per-doc context and stay
    // unique). The oracle replicates the ENTIRE pipeline — shingles, df,
    // islands, span slice — so any natural cross-doc repetition the real
    // text happens to contain is found identically by both engines.
    // k=8, minSpan=16.
    "e48_span_dedup" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(col("text").isNotNull && col("doc_id") < 250)
          .select(col("doc_id"), expr(
            """CASE WHEN doc_id % 5 = 2 THEN array_join(concat(
                 slice(split(text, ' '), 1, 8),
                 transform(sequence(0, 23), i -> concat('dup', i)),
                 slice(split(text, ' '), 9, size(split(text, ' ')))), ' ')
               ELSE text END""").as("text"))
        graft.operators.SpanDedup
          .sharedSpans(docs, "doc_id", "text", k = 8, minSpanTokens = 16)
          .orderBy(col("doc_id"), col("span_start"))
      },
      Some("""WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS t0
          FROM documents WHERE text IS NOT NULL AND doc_id < 250),
        d AS (SELECT doc_id,
            CASE WHEN doc_id % 5 = 2 THEN list_concat(list_concat(
                t0[1:8],
                list_transform(generate_series(0, 23), i -> 'dup' || CAST(i AS VARCHAR))),
                t0[9:len(t0)])
              ELSE t0 END AS toks
          FROM d0),
        sh AS (SELECT doc_id, CAST(i AS INT) AS pos,
            array_to_string(toks[i+1 : i+8], ' ') AS sh
          FROM d, UNNEST(generate_series(0, len(toks) - 8)) u(i)
          WHERE len(toks) >= 8),
        f AS (SELECT sh FROM (SELECT sh, count(DISTINCT doc_id) AS df
            FROM sh GROUP BY sh) WHERE df >= 2),
        s2 AS (SELECT doc_id, pos FROM sh JOIN f USING (sh)),
        isl AS (SELECT doc_id, pos,
            pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
          FROM s2),
        sp AS (SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
            CAST(max(pos) + 8 - min(pos) AS INT) AS span_len
          FROM isl GROUP BY doc_id, g)
        SELECT sp.doc_id, sp.span_start, sp.span_len,
          array_to_string(d.toks[sp.span_start + 1 : sp.span_start + sp.span_len], ' ')
            AS span_text
        FROM sp JOIN d ON sp.doc_id = d.doc_id
        WHERE sp.span_len >= 16
        ORDER BY sp.doc_id, sp.span_start""")),

    // E48b — span REMOVAL (operators.SpanDedup.removeSpans): the action
    // stage after e48's detection — every duplicated span excised from
    // every doc except the lowest doc_id of its head-shingle family
    // (keeper rule + limitation documented on the operator). Same
    // planted fixture as e48; the oracle replicates detection, keeper
    // election, position explosion and the order-preserving token
    // excision, so n_removed and the rebuilt text are checked
    // end-to-end for every doc (untouched docs pass through with
    // n_removed = 0).
    "e48b_span_remove" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(col("text").isNotNull && col("doc_id") < 250)
          .select(col("doc_id"), expr(
            """CASE WHEN doc_id % 5 = 2 THEN array_join(concat(
                 slice(split(text, ' '), 1, 8),
                 transform(sequence(0, 23), i -> concat('dup', i)),
                 slice(split(text, ' '), 9, size(split(text, ' ')))), ' ')
               ELSE text END""").as("text"))
        graft.operators.SpanDedup
          .removeSpans(docs, "doc_id", "text", k = 8, minSpanTokens = 16)
          .orderBy(col("doc_id"))
      },
      Some("""WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS t0
          FROM documents WHERE text IS NOT NULL AND doc_id < 250),
        d AS (SELECT doc_id,
            CASE WHEN doc_id % 5 = 2 THEN list_concat(list_concat(
                t0[1:8],
                list_transform(generate_series(0, 23), i -> 'dup' || CAST(i AS VARCHAR))),
                t0[9:len(t0)])
              ELSE t0 END AS toks
          FROM d0),
        sh AS (SELECT doc_id, CAST(i AS INT) AS pos,
            array_to_string(toks[i+1 : i+8], ' ') AS sh
          FROM d, UNNEST(generate_series(0, len(toks) - 8)) u(i)
          WHERE len(toks) >= 8),
        f AS (SELECT sh FROM (SELECT sh, count(DISTINCT doc_id) AS df
            FROM sh GROUP BY sh) WHERE df >= 2),
        s2 AS (SELECT doc_id, pos FROM sh JOIN f USING (sh)),
        isl AS (SELECT doc_id, pos,
            pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
          FROM s2),
        sp AS (SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
            CAST(max(pos) + 8 - min(pos) AS INT) AS span_len
          FROM isl GROUP BY doc_id, g),
        hs AS (SELECT s.doc_id, s.span_start, s.span_len,
            array_to_string(d.toks[s.span_start + 1 : s.span_start + 8], ' ') AS head
          FROM sp s JOIN d USING (doc_id) WHERE s.span_len >= 16),
        kp AS (SELECT head, min(doc_id) AS keep_id FROM hs GROUP BY head),
        dp AS (SELECT hs.doc_id, u.i AS p
          FROM hs JOIN kp USING (head),
            UNNEST(generate_series(hs.span_start + 1, hs.span_start + hs.span_len)) u(i)
          WHERE hs.doc_id <> kp.keep_id),
        dpl AS (SELECT doc_id, list(DISTINCT p) AS dropl FROM dp GROUP BY doc_id)
        SELECT d.doc_id, CAST(len(d.toks) AS INT) AS n_toks,
          coalesce(CAST(len(dpl.dropl) AS INT), 0) AS n_removed,
          CASE WHEN dpl.dropl IS NULL THEN array_to_string(d.toks, ' ')
            -- coalesce: a fully-excised doc (every token dropped — a doc
            -- wholly contained in another's shingles) folds to '' as on
            -- the Spark side, where array_join of an empty array is ''
            ELSE coalesce(array_to_string(list_transform(
              list_filter(generate_series(1, len(d.toks)),
                i -> NOT list_contains(dpl.dropl, i)),
              i -> d.toks[i]), ' '), '') END AS cleaned
        FROM d LEFT JOIN dpl USING (doc_id)
        ORDER BY d.doc_id""")),

    // E41 — Naive-Bayes quality classifier: the fastText-style filter
    // every web-scale pipeline runs (CCNet / GPT-3 "quality" stage),
    // here as a multinomial NB with Laplace smoothing trained on a
    // deterministic 80% split (label: lang = 'en') and scoring the held
    // -out 20%. Everything is counts: the model is ONE grouped aggregate
    // over train tokens, bounded by vocabulary — it broadcasts at 100 TB
    // and scoring is scan-local + one per-doc aggregate. Train-split
    // scalars (class totals, vocab size, priors) are bounded driver
    // literals (e33 normalizer precedent). The per-doc score folds each
    // kw term to a fixed-point long (round(kw·1e9)) and SUMS — long
    // addition is associative and order-free, so the result is exactly
    // deterministic under any partition order with CONSTANT aggregation
    // state (two longs per doc), unlike a collect_list fold whose buffer
    // grows with a document's distinct tokens (VERDICT r7 item 2: token
    // vocabulary, unlike e33's alphabet³ trigrams, is unbounded — a
    // pathological high-vocabulary doc must not materialize a list).
    // The 1e-9 quantization is far below the 6-dp output rounding;
    // ln + round(6) follows the e08/e33 transcendental-parity precedent.
    "e41_nb_quality" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), (col("lang") === "en").as("y"),
            split(lower(col("text")), " ").as("toks"))
        val toks = docs.select(col("doc_id"), col("y"),
          explode(col("toks")).as("tok"))
        val train = toks.filter(col("doc_id") % 10 < 8)
        val model = train.groupBy(col("tok")).agg(
          sum(when(col("y"), 1L).otherwise(0L)).as("cnt1"),
          sum(when(col("y"), 0L).otherwise(1L)).as("cnt0"))
        val Array(tot1, tot0, v) = model.agg(
            sum(col("cnt1")), sum(col("cnt0")), count(lit(1)))
          .collect()(0).toSeq.map(_.asInstanceOf[Long].toDouble).toArray
        val Array(n1, n0) = docs.filter(col("doc_id") % 10 < 8)
          .agg(sum(when(col("y"), 1L).otherwise(0L)),
            sum(when(col("y"), 0L).otherwise(1L)))
          .collect()(0).toSeq.map(_.asInstanceOf[Long].toDouble).toArray
        val prior = math.log(n1 / n0)
        val scored = toks.filter(col("doc_id") % 10 >= 8)
          .groupBy(col("doc_id"), col("y"), col("tok"))
          .agg(count(lit(1)).as("k"))
          .join(model, Seq("tok"), "left")
          .select(col("doc_id"), col("y"), col("k"),
            (col("k").cast("double") *
              (log((coalesce(col("cnt1"), lit(0L)).cast("double") + 1.0) / lit(tot1 + v))
                - log((coalesce(col("cnt0"), lit(0L)).cast("double") + 1.0) / lit(tot0 + v))))
              .as("kw"))
        scored.groupBy(col("doc_id"))
          .agg(sum(col("k")).as("n_toks"),
            sum(expr("CAST(round(kw * 1e9, 0) AS BIGINT)")).as("fp"),
            first(col("y")).as("actual"))
          .select(col("doc_id"), col("n_toks"),
            round(lit(prior) + col("fp").cast("double") / 1e9, 6).as("score"),
            col("actual"))
          .withColumn("pred", col("score") > 0.0)
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, lang = 'en' AS y,
            string_split(lower(text), ' ') AS toks
          FROM documents WHERE text IS NOT NULL),
        tk AS (SELECT doc_id, y, unnest(toks) AS tok FROM d),
        model AS (SELECT tok,
            sum(CASE WHEN y THEN 1 ELSE 0 END) AS cnt1,
            sum(CASE WHEN y THEN 0 ELSE 1 END) AS cnt0
          FROM tk WHERE doc_id % 10 < 8 GROUP BY tok),
        tot AS (SELECT CAST(sum(cnt1) AS DOUBLE) AS tot1,
            CAST(sum(cnt0) AS DOUBLE) AS tot0,
            CAST(count(*) AS DOUBLE) AS v FROM model),
        pri AS (SELECT ln(CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
              / sum(CASE WHEN y THEN 0 ELSE 1 END)) AS prior
          FROM d WHERE doc_id % 10 < 8),
        pt AS (SELECT doc_id, y, tok, count(*) AS k
          FROM tk WHERE doc_id % 10 >= 8 GROUP BY doc_id, y, tok),
        kw AS (SELECT doc_id, y, k,
            k * (ln((CAST(coalesce(cnt1, 0) AS DOUBLE) + 1.0) / (tot1 + v))
               - ln((CAST(coalesce(cnt0, 0) AS DOUBLE) + 1.0) / (tot0 + v))) AS kw
          FROM pt LEFT JOIN model USING (tok) CROSS JOIN tot),
        sc AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_toks,
            round(any_value(prior)
              + CAST(sum(CAST(round(kw * 1e9) AS BIGINT)) AS DOUBLE) / 1e9, 6) AS score,
            bool_or(y) AS actual
          FROM kw CROSS JOIN pri GROUP BY doc_id)
        SELECT doc_id, n_toks, score, actual, score > 0.0 AS pred
        FROM sc ORDER BY doc_id""")),

    // E44 — WARC ingest: the stage BEFORE e34 in a real crawl pipeline
    // (CommonCrawl ships WARC; nothing downstream exists until records
    // are split out of the container). The fixture WRITES genuine
    // WARC/1.0 response records (version line, WARC-Type/Target-URI/
    // Record-ID headers, Content-Length, CRLF framing) built
    // deterministically from the documents table into 4 .warc files;
    // the operator under test then re-ingests them: binaryFile scan →
    // record split on the version magic → header regexes → payload
    // extracted by CONTENT-LENGTH (the spec mechanism — the split is
    // only record framing; a payload shorter/longer than its header
    // would surface as a corrupted payload column and fail the oracle,
    // which checks the FULL payload against construction ground truth).
    //
    // Shape at 100 TB: parallelism is per-FILE (the CommonCrawl layout:
    // millions of ~1 GB segments; binaryFile does not split single
    // files, matching how WARC must be read — records are sequential
    // within a file) and record parsing is scan-local column algebra:
    // zero shuffle, no UDF, composes with e34 (strip) / e37 (domain).
    // Documented limits: uncompressed WARC (per-record gzip members are
    // out of scope here), and record framing assumes the version magic
    // does not occur inside a payload — true for text corpora; binary
    // payloads would be walked by Content-Length alone in a custom
    // FileFormat (the same envelope discipline as the e12 decoders).
    // Content-Length is BYTES; the fixture text is ASCII so both
    // engines' char lengths equal the byte count.
    "e44_warc_ingest" -> QueryDef(
      (s, dir) => {
        val warcDir = writeWarcFixture(s, dir)
        parseWarc(s.read.format("binaryFile").load(warcDir))
          .orderBy(col("fname"), col("rec"))
      },
      Some(warcOracleSql)),

    // E44b — gzip WARC ingest (`.warc.gz`, VERDICT r8 item 1): the format
    // CommonCrawl actually ships — one gzip member per record, members
    // concatenated per file. Framing comes from the gzip member walk
    // (operators.WarcGzip), NOT content sniffing, so payloads containing
    // the WARC version magic or gzip magic bytes cannot split a record
    // (WarcSpec pins). Payloads decode through the charset their
    // Content-Type header declares (r8 item 4): the fixture plants
    // non-ASCII markers whose cp1252/latin-1 bytes decode differently
    // under the wrong charset, and the oracle re-derives the decoded text
    // AND the byte-level Content-Length from construction — a reader that
    // ignores the declared charset or slices by chars fails the hash.
    // Scale shape: identical to e44 — per-file parallel, scan-local,
    // zero shuffle (the ORDER BY is oracle canonicalization only).
    "e44b_warc_gzip" -> QueryDef(
      (s, dir) => {
        val warcDir = writeWarcGzFixture(s, dir)
        graft.operators.WarcGzip.parse(
            s.read.format("binaryFile").load(warcDir))
          .orderBy(col("fname"), col("rec"))
      },
      Some("""WITH d AS (SELECT doc_id, source, text,
            CAST(doc_id % 4 AS INT) AS b, CAST(doc_id % 3 AS INT) AS cs
          FROM documents WHERE text IS NOT NULL AND doc_id < 400)
        SELECT 'bucket' || CAST(b AS VARCHAR) || '.warc.gz' AS fname,
          CAST(row_number() OVER (PARTITION BY b ORDER BY doc_id) - 1 AS INT) AS rec,
          'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS uri,
          CASE cs WHEN 0 THEN 'UTF-8' WHEN 1 THEN 'ISO-8859-1'
            ELSE 'windows-1252' END AS charset,
          CAST(length(text) + CASE cs WHEN 0 THEN 12 ELSE 8 END AS INT) AS clen,
          text || CASE cs WHEN 0 THEN ' café €10' WHEN 1 THEN ' café ±1'
            ELSE ' café €–' END AS payload
        FROM d ORDER BY fname, rec""")),

    // E45 — domain-authority rank (PageRank — Page, Brin, Motwani,
    // Winograd, "The PageRank Citation Ranking", 1999, public method —
    // fixed 3-iteration power method, d = 0.85): the curation signal
    // quality-weighting pipelines
    // derive from the crawl's link graph (authority-weighted sampling /
    // filtering). The fixture graph is deterministic construction
    // arithmetic over the documents table (edge source→'src'||doc_id%7,
    // self-loops dropped), so the oracle re-derives the SAME graph and
    // unrolls the same three iterations as CTEs — every join, out-degree
    // and damping term checked end-to-end. round(6) absorbs summation-
    // order double drift (the e08 ln precedent; drift is ~1e-15 after 3
    // iterations, six orders below the rounding grain).
    //
    // Shape at 100 TB: the loop is the iterative-DataFrame family
    // (ConnectedComponents' shape): per iteration ONE shuffle keyed on
    // dst for the contribution aggregate; out-degrees broadcast (one row
    // per domain — dimension-scale); rank state is one row per node,
    // never per edge. A production run adds localCheckpoint every ~5
    // iterations to cut lineage — iteration count here is fixed and
    // small so the plan stays a straight unrolled DAG.
    "e45_domain_rank" -> QueryDef(
      (s, dir) => {
        val d = 0.85
        val docs = t(s, dir, "documents").filter(col("text").isNotNull)
        // r18 optimization: checkpoint the graph tables and each
        // iteration's ranks — the unrolled 3-iteration plan re-executed
        // the edges subtree ~7x (linear, not exponential, recompute; the
        // e78 fix's smaller sibling). Measured 1.18 -> 0.75 s at sf0.1
        // (Lab, equality-checked); all checkpointed tables are
        // dimension-scale (one row per host).
        val edges = docs.select(col("source").as("src"),
            concat(lit("src"), col("doc_id") % 7).as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct().localCheckpoint()
        val nodes = edges.select(col("src").as("node"))
          .union(edges.select(col("dst"))).distinct().localCheckpoint()
        val n = nodes.count().toDouble
        val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
          .localCheckpoint()
        var ranks = nodes.withColumn("rank", lit(1.0 / n))
        (1 to 3).foreach { _ =>
          val contrib = edges.join(outdeg, "src")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(col("dst").as("node"))
            .agg(sum(col("rank") / col("outdeg")).as("c"))
          ranks = nodes.join(contrib, Seq("node"), "left")
            .select(col("node"),
              // 0.15/n as the same decimal literal the oracle parses —
              // (1 - d) would seed 1-ulp drift (1 - 0.85 = 0.15000…02)
              // into an iterated computation
              (lit(0.15 / n) + lit(d) * coalesce(col("c"), lit(0.0))).as("rank"))
            .localCheckpoint()
        }
        ranks.select(col("node"), round(col("rank"), 6).as("rank"))
          .orderBy(col("node"))
      },
      Some("""WITH e AS (SELECT DISTINCT source AS src,
            'src' || CAST(doc_id % 7 AS VARCHAR) AS dst
          FROM documents WHERE text IS NOT NULL
            AND source <> 'src' || CAST(doc_id % 7 AS VARCHAR)),
        nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM e UNION SELECT dst FROM e)),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn),
        r1 AS (SELECT nodes.node, 0.15 / n + 0.85 * coalesce(t.c, 0) AS rank
          FROM nodes CROSS JOIN nn LEFT JOIN
            (SELECT dst AS node, sum(r0.rank / outdeg) AS c
             FROM e JOIN od USING (src) JOIN r0 ON r0.node = e.src
             GROUP BY dst) t ON nodes.node = t.node),
        r2 AS (SELECT nodes.node, 0.15 / n + 0.85 * coalesce(t.c, 0) AS rank
          FROM nodes CROSS JOIN nn LEFT JOIN
            (SELECT dst AS node, sum(r1.rank / outdeg) AS c
             FROM e JOIN od USING (src) JOIN r1 ON r1.node = e.src
             GROUP BY dst) t ON nodes.node = t.node),
        r3 AS (SELECT nodes.node, 0.15 / n + 0.85 * coalesce(t.c, 0) AS rank
          FROM nodes CROSS JOIN nn LEFT JOIN
            (SELECT dst AS node, sum(r2.rank / outdeg) AS c
             FROM e JOIN od USING (src) JOIN r2 ON r2.node = e.src
             GROUP BY dst) t ON nodes.node = t.node)
        SELECT node, round(rank, 6) AS rank FROM r3 ORDER BY node""")),

    // E46 — robots-exclusion filter (RFC 9309, public spec): the crawl
    // politeness gate between URL discovery (e37) and fetch/ingest
    // (e44). Rule semantics implemented exactly as the RFC states them:
    // per (domain, path) the LONGEST matching rule prefix wins, and on
    // an equal-length allow/disallow tie the LEAST RESTRICTIVE (allow)
    // wins — encoded as one max(struct(prefix_len, allow, prefix))
    // aggregate, whose field order IS the RFC's precedence. No matching
    // rule = allowed (the RFC default). The rule table derives from
    // generate_series arithmetic on BOTH engines (200 rows: the
    // srcXk.com domains disallow /p/1 with an /p/12 allow override;
    // srcXk.org disallow /p/ with an /p/3 override; other TLDs have no
    // rules), so matches, overrides, defaults and the longest-prefix
    // tie-break all check against construction ground truth.
    //
    // Shape at 100 TB: a real robots corpus is dimension-scale (one row
    // group of rules per domain) — exactly this broadcast join + a
    // scan-local prefix filter and a per-URL max aggregate bounded by
    // the handful of rules a domain has. No shuffle of the URL corpus
    // beyond the verdict aggregate keyed on the URL itself.
    "e46_robots_filter" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val tlds = lit(Array("com", "org", "co.uk", "io", "com.au", "org.uk"))
        val docs = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            concat(col("source"), (col("doc_id") % 5).cast("string"), lit("."),
              element_at(tlds, (col("doc_id") % 6 + 1).cast("int"))).as("domain"),
            concat(lit("/p/"), col("doc_id")).as("path"))
        val rules = (for {
          i <- 0 until 10; k <- 0 until 5
          r <- Seq((s"src$i$k.com", "/p/1", false), (s"src$i$k.com", "/p/12", true),
            (s"src$i$k.org", "/p/", false), (s"src$i$k.org", "/p/3", true))
        } yield r).toDF("domain", "prefix", "allow")
        val matched = docs.join(broadcast(rules), Seq("domain"))
          .filter(col("path").startsWith(col("prefix")))
          .groupBy(col("doc_id").as("m_id"))
          .agg(max(struct(length(col("prefix")).as("len"),
            col("allow").as("allow"), col("prefix").as("prefix"))).as("m"))
          .select(col("m_id"), col("m.allow").as("m_allow"),
            col("m.prefix").as("rule"))
        docs.join(matched, col("doc_id") === col("m_id"), "left").drop("m_id")
          .select(col("doc_id"), col("domain"), col("path"),
            coalesce(col("m_allow"), lit(true)).as("allowed"), col("rule"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH docs AS (SELECT doc_id,
            source || CAST(doc_id % 5 AS VARCHAR) || '.' ||
              (['com','org','co.uk','io','com.au','org.uk'])[CAST(doc_id % 6 AS INT) + 1] AS domain,
            '/p/' || CAST(doc_id AS VARCHAR) AS path
          FROM documents WHERE text IS NOT NULL),
        ik AS (SELECT i, k FROM generate_series(0, 9) g(i), generate_series(0, 4) h(k)),
        rules AS (
          SELECT 'src' || CAST(i AS VARCHAR) || CAST(k AS VARCHAR) || '.com' AS domain,
            '/p/1' AS prefix, false AS allow FROM ik
          UNION ALL SELECT 'src' || CAST(i AS VARCHAR) || CAST(k AS VARCHAR) || '.com',
            '/p/12', true FROM ik
          UNION ALL SELECT 'src' || CAST(i AS VARCHAR) || CAST(k AS VARCHAR) || '.org',
            '/p/', false FROM ik
          UNION ALL SELECT 'src' || CAST(i AS VARCHAR) || CAST(k AS VARCHAR) || '.org',
            '/p/3', true FROM ik),
        m AS (SELECT doc_id, allow, prefix,
            row_number() OVER (PARTITION BY doc_id
              ORDER BY length(prefix) DESC, allow DESC, prefix DESC) AS rn
          FROM docs JOIN rules USING (domain)
          WHERE starts_with(path, prefix)),
        best AS (SELECT doc_id, allow, prefix FROM m WHERE rn = 1)
        SELECT d.doc_id, d.domain, d.path,
          coalesce(b.allow, true) AS allowed, b.prefix AS rule
        FROM docs d LEFT JOIN best b USING (doc_id) ORDER BY d.doc_id""")),

    // E47 — the composed end-to-end crawl pipeline (VERDICT r8 item 2):
    // e44 (WARC ingest) → e46 (robots filter) → e34 (HTML strip) → e40
    // (line-frequency boilerplate) → e38-exact (incremental dedup) → e33
    // (LM-score filter), ONE query, every stage's output feeding the next
    // — the thing a real pipeline does all day, proven composable with a
    // single construction oracle that re-derives all six stages from the
    // documents table. Stage notes:
    //  - ingest: the e44 parse on a dedicated fixture whose payloads are
    //    HTML pages with planted boilerplate lines and planted exact
    //    duplicates (writeCrawlWarcFixture);
    //  - robots: per-domain broadcast rules (all 20 sources disallow
    //    /p/1 with an /p/12 allow override — RFC 9309 longest-prefix via
    //    the e46 max(struct) verdict), so /p/1xx pages drop EXCEPT
    //    /p/12x, and a duplicate whose original was robots-blocked
    //    survives dedup as unique (the oracle checks that interaction);
    //  - strip: the e34 chain, with `</p>` → '\n' BEFORE the generic tag
    //    strip so line structure survives into e40 (tags strip to ''
    //    here, not ' ' — this variant feeds a line stage, so padding
    //    spaces would corrupt line identity);
    //  - line dedup: LineDedup.clean at tau=10 (header/footer/cookie
    //    lines have df ≥ 190, content lines df ≤ 2);
    //  - dedup: the e38 exact path in batch-keeper form — group on
    //    sha2(kept_text), keep min rec_id (equivalent to "no earlier rec
    //    with identical text"; the MinHash near path composes the same
    //    way but its hash family is fixture-oracled in e38 itself —
    //    DuckDB cannot re-derive it, so the composed pin is the exact
    //    path);
    //  - LM score: the e33 trigram model TRAINED ON THE SURVIVORS (the
    //    corpus the pipeline just cleaned — exactly what CCNet does),
    //    bounded sorted-fold mean, keep at > -9.0.
    // Scale shape: survivors are persist()ed before the model pass — at
    // 100 TB that boundary is a checkpointed table (every production
    // pipeline materializes between major stages); the model normalizer
    // is one driver literal (e33 precedent). Everything else is the
    // stages' own pinned shapes: scan-local parse/strip, broadcast rules
    // join, bounded aggregates; exchanges exist ONLY where line-df,
    // reassembly, dedup and the model require a shuffle (PlanSpec pins
    // no cartesian / no BNLJ and the broadcast rules join).
    "e47_crawl_pipeline" -> QueryDef(
      (s, dir) => {
        val warcDir = writeCrawlWarcFixture(s, dir)
        // stages 1-3 — e44 ingest, e46 robots, e34 strip (shared with the
        // d17 streaming twin)
        val recs = crawlRecs(parseWarc(s.read.format("binaryFile").load(warcDir)))
        // r18 optimization: materialize each pipeline stage once
        // (localCheckpoint) — the composed plan consumed `stripped` twice
        // (boilerplate-removal input + the final uri/n_raw join, each
        // re-running the WARC parse + HTML strip) and `ld` twice (keeper
        // selection + survivor join, each re-running the line-frequency
        // pass); stage 6's model was re-derived by its own normalizer
        // collect. A production multi-stage pipeline materializes stage
        // outputs between passes — this is that, in-session (the query
        // already persist()s `survivors` on the same grounds). Measured
        // 3.57 -> 1.50 s at sf0.1 (OptSweep, oracle PASS).
        // r19 (VERDICT r18 item 3): lineage-preserving persist was A/B'd
        // here per the verdict's instruction and REJECTED for these
        // corpus-TEXT stages — interleaved same-window pairs read e47 at
        // 4.8-5.6 s under persist vs 3.7-3.9 s under localCheckpoint (the
        // InMemoryRelation columnar encode of long string columns is the
        // cost; the fixed-width signature tables in IncrementalDedup/e02
        // DID move to persist, see MaterializeOnce). Kept per the
        // verdict's own rule: "keep whichever is not slower".
        val stripped = crawlStrip(crawlRobotsAllowed(s, recs)).localCheckpoint()
        // stage 4 — e40 line-frequency boilerplate removal
        val ld = graft.operators.LineDedup.clean(
          stripped.select(col("rec_id").as("doc_id"),
            col("cleaned").as("content")), tau = 10)
          .withColumnRenamed("cleaned", "kept_text")
          .localCheckpoint()
        // stage 5 — e38 exact-path dedup (batch-keeper form)
        val keepers = ld.groupBy(sha2(col("kept_text"), 256).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
        // r19: localCheckpoint instead of the old lazy persist() — part of
        // the measured-fastest configuration above, and it guarantees every
        // consumer reads the one materialization (the r18 plan dump showed
        // one persist consumer silently recomputing the semi-join).
        val survivors = ld.join(keepers, Seq("doc_id"), "left_semi")
          .localCheckpoint()
        // stage 6 — e33 LM score, model trained on the survivors
        val tris = survivors
          .select(col("doc_id"), lower(col("kept_text")).as("t"))
          .filter(length(col("t")) >= 3)
          .select(col("doc_id"), expr("char_trigrams(t)"))
        val model = tris.groupBy(col("tri")).agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        val total: Double = model.agg(sum(col("cnt")))
          .collect()(0).getLong(0).toDouble
        val scored = tris.groupBy(col("doc_id"), col("tri"))
          .agg(count(lit(1)).as("k"))
          // r19: explicit broadcast (guide §3.1) — the model is
          // trigram-alphabet-bounded, but its checkpoint leaf now carries
          // the ESTIMATE stats of the survivors chain (the old lazy
          // persist carried measured sizes), which flipped this join to
          // sort-merge. Pin the strategy the dimension-scale side has
          // always warranted (PlanSpec asserts it).
          .join(broadcast(model), "tri")
          .select(col("doc_id"), col("k"),
            (col("k").cast("double")
              * log(col("cnt").cast("double") / lit(total))).as("kl"))
          .groupBy(col("doc_id"))
          .agg(sum(col("k")).as("n_tris"),
            expr("round(aggregate(sort_array(collect_list(kl)), 0D, (s, x) -> s + x) / sum(k), 6)")
              .as("lm_score"))
        survivors.select(col("doc_id"), col("n_lines"), col("n_kept"))
          .join(scored, "doc_id")
          .join(stripped.select(col("rec_id").as("doc_id"), col("uri"),
            col("n_raw"), col("n_clean")), "doc_id")
          .select(col("doc_id"), col("uri"), col("n_raw"), col("n_clean"),
            col("n_lines"), col("n_kept"), col("n_tris"),
            col("lm_score"), (col("lm_score") > -9.0).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, source,
            list_concat(list_concat(list_concat(
              ['subscribe to our newsletter'],
              list_transform(generate_series(0, (len(string_split(text, ' ')) - 1) // 8),
                i -> array_to_string(string_split(text, ' ')[i*8 + 1 : i*8 + 8], ' '))),
              ['all rights reserved']),
              CASE WHEN doc_id % 2 = 0 THEN ['cookie policy accept'] ELSE [] END) AS lines
          FROM documents WHERE text IS NOT NULL AND doc_id < 400),
        hh AS (SELECT doc_id, source,
            '<html><head><script>var x = 1 < 2;</script><style>p { color: #fff; }</style></head><body>'
            || array_to_string(list_transform(lines,
                 l -> '<p>' || replace(l, ' ', '&nbsp;') || '</p>'), '')
            || '<!-- footer --></body></html>' AS html
          FROM d),
        recs AS (
          SELECT doc_id AS rec_id,
            'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS uri,
            source || '.example.com' AS domain,
            '/p/' || CAST(doc_id AS VARCHAR) AS path, html
          FROM hh
          UNION ALL
          SELECT 10000 + doc_id,
            'https://' || source || '.example.com/dup/' || CAST(doc_id AS VARCHAR),
            source || '.example.com',
            '/dup/' || CAST(doc_id AS VARCHAR), html
          FROM hh WHERE doc_id % 10 = 7),
        rules AS (SELECT 'src' || CAST(i AS VARCHAR) || '.example.com' AS domain,
            p.prefix, p.allow
          FROM generate_series(0, 19) g(i),
            (VALUES ('/p/1', false), ('/p/12', true)) p(prefix, allow)),
        v AS (SELECT rec_id, allow,
            row_number() OVER (PARTITION BY rec_id
              ORDER BY length(prefix) DESC, allow DESC) AS rn
          FROM recs JOIN rules USING (domain)
          WHERE starts_with(path, prefix)),
        allowed AS (SELECT r.* FROM recs r
          LEFT JOIN (SELECT rec_id, allow FROM v WHERE rn = 1) b USING (rec_id)
          WHERE coalesce(b.allow, true)),
        strip AS (SELECT rec_id, uri, CAST(length(html) AS INT) AS n_raw,
            trim(replace(
              regexp_replace(
                replace(
                  regexp_replace(
                    regexp_replace(html, '<script[^>]*>.*?</script>', '', 'gs'),
                    '<style[^>]*>.*?</style>', '', 'gs'),
                  '</p>', chr(10)),
                '<!--.*?-->|<[^>]+>', '', 'gs'),
              '&nbsp;', ' '), chr(10)) AS cleaned
          FROM allowed),
        sl AS (SELECT rec_id, string_split(cleaned, chr(10)) AS ll FROM strip),
        l2 AS (SELECT rec_id, CAST(i - 1 AS INT) AS pos, ll[i] AS ln
          FROM sl, UNNEST(generate_series(1, len(ll))) u(i)),
        f AS (SELECT ln, count(DISTINCT rec_id) AS df FROM l2 GROUP BY ln),
        kept AS (SELECT l2.rec_id, l2.pos, l2.ln
          FROM l2 JOIN f USING (ln) WHERE f.df < 10),
        ld AS (SELECT sl.rec_id, CAST(len(sl.ll) AS INT) AS n_lines,
            coalesce(k.n_kept, 0) AS n_kept, coalesce(k.kept_text, '') AS kept_text
          FROM sl LEFT JOIN (
            SELECT rec_id, CAST(count(*) AS INT) AS n_kept,
              array_to_string(list(ln ORDER BY pos), chr(10)) AS kept_text
            FROM kept GROUP BY rec_id) k USING (rec_id)),
        keepers AS (SELECT min(rec_id) AS rec_id FROM ld GROUP BY sha256(kept_text)),
        surv AS (SELECT ld.* FROM ld JOIN keepers USING (rec_id)),
        t AS (SELECT rec_id, lower(kept_text) AS t FROM surv
          WHERE len(lower(kept_text)) >= 3),
        tris AS (SELECT rec_id, unnest(list_transform(
            generate_series(1, len(t) - 2), i -> substr(t, i, 3))) AS tri
          FROM t),
        model AS (SELECT tri, count(*) AS cnt FROM tris GROUP BY tri),
        tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM model),
        pt AS (SELECT rec_id, tri, count(*) AS k FROM tris GROUP BY rec_id, tri),
        ls AS (SELECT rec_id, k, k * ln(CAST(cnt AS DOUBLE) / total) AS kl
          FROM pt JOIN model USING (tri) CROSS JOIN tot),
        sc AS (SELECT rec_id, CAST(sum(k) AS BIGINT) AS n_tris,
            round(list_sum(list_sort(list(kl))) / sum(k), 6) AS lm_score
          FROM ls GROUP BY rec_id)
        SELECT s.rec_id AS doc_id, st.uri, st.n_raw,
          CAST(len(st.cleaned) AS INT) AS n_clean,
          s.n_lines, s.n_kept, sc.n_tris, sc.lm_score,
          sc.lm_score > -9.0 AS keep
        FROM surv s JOIN sc ON s.rec_id = sc.rec_id
          JOIN strip st ON s.rec_id = st.rec_id
        ORDER BY doc_id""")),

    // E49 — robots.txt FILE parsing + verdict (operators.RobotsTxt):
    // closes the gap e46 assumes away — e46 consumes a structured rules
    // table, but a crawl pipeline holds raw robots.txt BODIES per
    // domain. The fixture builds one body per domain by construction:
    // all 20 domains carry a `*` group (Disallow /p/1, Allow /p/12, plus
    // an EMPTY Disallow that must be dropped per RFC 9309 — kept wrongly
    // it would disallow the /about/ URLs that match no rule); even-
    // numbered sources add a graftbot+otherbot two-agent group
    // (Disallow /p/, Allow /p/3) and an ignored Crawl-delay. The query
    // parses, selects the governing group for agent `graftbot` (the
    // named group where present, else `*` — never both), and applies
    // the e46 longest-prefix verdict. The oracle re-derives the ENTIRE
    // parse (comment strip, line classification, lag+running-sum
    // grouping, group join, agent selection, verdict) in SQL.
    "e49_robots_parse" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(col("text").isNotNull && col("doc_id") < 250)
          .select(col("doc_id"),
            concat(col("source"), lit(".example.com")).as("domain"),
            when(col("doc_id") % 7 === 0, concat(lit("/about/"), col("doc_id")))
              .otherwise(concat(lit("/p/"), col("doc_id"))).as("path"))
        val doms = docs.select(col("domain")).distinct()
          .withColumn("i",
            expr("CAST(regexp_extract(domain, 'src([0-9]+)', 1) AS INT)"))
          .withColumn("content", concat(
            lit("# robots fixture\nUser-agent: *\nDisallow: /p/1\nAllow: /p/12\nDisallow:\n"),
            when(col("i") % 2 === 0,
              lit("\nUser-agent: graftbot\nUser-agent: otherbot\nDisallow: /p/\nAllow: /p/3\nCrawl-delay: 5\n"))
              .otherwise(lit(""))))
        val eff = graft.operators.RobotsTxt.effectiveRules(
          graft.operators.RobotsTxt.parseRules(
            doms.select(col("domain"), col("content"))),
          "graftbot")
        val matched = docs.join(broadcast(eff), Seq("domain"))
          .filter(col("path").startsWith(col("prefix")))
          .groupBy(col("doc_id").as("m_id"))
          .agg(max(struct(length(col("prefix")).as("len"),
            col("allow").as("allow"), col("prefix").as("prefix"))).as("m"))
        docs.join(matched, col("doc_id") === col("m_id"), "left").drop("m_id")
          .select(col("doc_id"), col("domain"), col("path"),
            coalesce(col("m.allow"), lit(true)).as("allowed"),
            col("m.prefix").as("rule"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH docs AS (SELECT doc_id, source || '.example.com' AS domain,
            CASE WHEN doc_id % 7 = 0 THEN '/about/' || CAST(doc_id AS VARCHAR)
                 ELSE '/p/' || CAST(doc_id AS VARCHAR) END AS path
          FROM documents WHERE text IS NOT NULL AND doc_id < 250),
        doms AS (SELECT DISTINCT domain FROM docs),
        ct AS (SELECT domain,
            '# robots fixture' || chr(10) || 'User-agent: *' || chr(10) ||
            'Disallow: /p/1' || chr(10) || 'Allow: /p/12' || chr(10) ||
            'Disallow:' || chr(10) ||
            CASE WHEN CAST(regexp_extract(domain, 'src([0-9]+)', 1) AS INT) % 2 = 0
              THEN chr(10) || 'User-agent: graftbot' || chr(10) ||
                   'User-agent: otherbot' || chr(10) || 'Disallow: /p/' || chr(10) ||
                   'Allow: /p/3' || chr(10) || 'Crawl-delay: 5' || chr(10)
              ELSE '' END AS content
          FROM doms),
        lraw AS (SELECT domain, CAST(u.i AS INT) AS pos,
            trim(regexp_replace(ll[u.i], '#.*$', '')) AS ln
          FROM (SELECT domain, string_split(content, chr(10)) AS ll FROM ct),
            UNNEST(generate_series(1, len(ll))) u(i)),
        l AS (SELECT * FROM lraw WHERE ln <> ''),
        cls AS (SELECT domain, pos,
            CASE WHEN lower(ln) LIKE 'user-agent:%' THEN 'ua'
                 WHEN lower(ln) LIKE 'allow:%' THEN 'allow'
                 WHEN lower(ln) LIKE 'disallow:%' THEN 'disallow'
                 ELSE 'other' END AS kind,
            trim(substr(ln, strpos(ln, ':') + 1)) AS value
          FROM l),
        cls2 AS (SELECT * FROM cls WHERE kind <> 'other'),
        lg AS (SELECT *, coalesce(lag(kind)
            OVER (PARTITION BY domain ORDER BY pos), '') AS pk FROM cls2),
        gr AS (SELECT *, sum(CASE WHEN kind = 'ua' AND pk <> 'ua' THEN 1 ELSE 0 END)
              OVER (PARTITION BY domain ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
          FROM lg),
        uas AS (SELECT domain, g, lower(value) AS ua
          FROM gr WHERE kind = 'ua' AND g >= 1),
        rl AS (SELECT domain, g, kind = 'allow' AS allow, value AS prefix
          FROM gr WHERE kind <> 'ua' AND value <> '' AND g >= 1),
        parsed AS (SELECT uas.domain, uas.ua, rl.allow, rl.prefix
          FROM uas JOIN rl ON uas.domain = rl.domain AND uas.g = rl.g),
        hasb AS (SELECT DISTINCT domain FROM parsed WHERE ua = 'graftbot'),
        eff AS (SELECT p.domain, p.allow, p.prefix
          FROM parsed p LEFT JOIN hasb ON p.domain = hasb.domain
          WHERE CASE WHEN hasb.domain IS NOT NULL THEN p.ua = 'graftbot'
                     ELSE p.ua = '*' END),
        m AS (SELECT doc_id, allow, prefix,
            row_number() OVER (PARTITION BY doc_id
              ORDER BY length(prefix) DESC, allow DESC, prefix DESC) AS rn
          FROM docs JOIN eff USING (domain) WHERE starts_with(path, prefix)),
        best AS (SELECT doc_id, allow, prefix FROM m WHERE rn = 1)
        SELECT d.doc_id, d.domain, d.path,
          coalesce(b.allow, true) AS allowed, b.prefix AS rule
        FROM docs d LEFT JOIN best b USING (doc_id) ORDER BY d.doc_id""")),

    // E43 — binary (sign) quantization + Hamming-prefilter ANN: each
    // 64-d embedding compresses to a single 8-byte signature (the sign
    // bit per dimension — 32x smaller than float32); search scans
    // signatures with popcount(xor) — pure codegen integer ops — takes a
    // bounded Hamming shortlist (100), and re-ranks the shortlist with
    // exact cosine (the e28c shortlist-then-rerank shape). At 100 TB the
    // signature column is what you scan: 8 bytes/vector means the
    // Hamming pass is bandwidth-trivial, and exact distance work is
    // bounded by the shortlist, not the corpus. The query signature and
    // vector are literal-bound (e03: a 1-row "table" has no business in
    // a distributed join). Bit 63 folds in as Long.MinValue on both
    // engines — DuckDB's checked `<<` cannot form 1<<63 directly.
    "e43_binary_ann" -> QueryDef(
      (s, dir) => {
        val sigExpr = expr(
          """aggregate(sequence(1, 63), 0L,
               (acc, i) -> acc + IF(element_at(embedding, i) > 0, shiftleft(1L, i - 1), 0L))
             + IF(element_at(embedding, 64) > 0, shiftleft(1L, 63), 0L)""")
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), sigExpr.as("sig"))
        val q = emb.filter(col("vec_id") === 0)
          .select(col("sig"), col("embedding")).collect().headOption
          .getOrElse(throw new IllegalArgumentException(
            s"e43_binary_ann: query vector vec_id=0 not found in $dir/embeddings"))
        val (qsig, qv) = (q.getLong(0), q.getSeq[Float](1).toArray)
        emb.select(col("vec_id"), col("embedding"),
            expr(s"CAST(bit_count(sig ^ ${qsig}L) AS INT)").as("hd"))
          .orderBy(col("hd"), col("vec_id")).limit(100)
          .select(col("vec_id"), col("hd"),
            call_function("cosine_sim", col("embedding"), typedlit(qv)).as("sim"))
          .orderBy(col("sim").desc, col("vec_id")).limit(10)
      },
      Some("""WITH s AS (SELECT vec_id, embedding,
            CAST(list_sum(list_transform(generate_series(1, 63),
                i -> CASE WHEN embedding[i] > 0 THEN CAST(1 AS BIGINT) << (i - 1)
                          ELSE CAST(0 AS BIGINT) END))
              + CASE WHEN embedding[64] > 0
                     THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END AS BIGINT) AS sig
          FROM embeddings),
        q AS (SELECT sig AS qsig, embedding AS qv FROM s WHERE vec_id = 0),
        c AS (SELECT vec_id, CAST(bit_count(xor(sig, qsig)) AS INT) AS hd, embedding, qv
          FROM s CROSS JOIN q ORDER BY hd, vec_id LIMIT 100)
        SELECT vec_id, hd,
          list_sum(list_transform(list_zip(embedding, qv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
        FROM c ORDER BY sim DESC, vec_id LIMIT 10""")),

    // E51 — CDX crawl-archive index (public formats: the Internet Archive
    // CDX file format + SURT url keys): one index row per WARC record with
    // the record's TRUE byte offset and length in its container file —
    // what random access into a petabyte crawl archive keys on — plus the
    // HTTP envelope fields (status, MIME) parsed from the payload, which
    // in this fixture is a full HTTP response (how CommonCrawl response
    // records actually wrap pages). Three mechanisms under test at once:
    //  1. the OFFSET WALK (operators.WarcCdx): records framed by byte
    //     offset + Content-Length, never by magic-splitting — a payload
    //     containing `WARC/1.0\r\n` cannot split a record (WarcCdxSpec
    //     pins it), and the walk's offsets are checked against the
    //     oracle's window-sum over the same record strings;
    //  2. HTTP envelope parse — status/MIME/body as column algebra over
    //     the payload (regexp + substr, all codegen);
    //  3. SURT url key — host labels reversed/comma-joined (split +
    //     reverse + array_join built-ins), checked against construction.
    // digest is sha256 of the HTTP BODY (not the envelope) — the oracle
    // hashes the source text directly, so a mis-sliced body fails.
    // CDX proper uses sha1-base32; sha256-hex is the cross-engine-
    // derivable stand-in (same role, same slice under test).
    //
    // Shape at 100 TB: indexing is ONE scan-local pass — per-file
    // parallel walk, zero shuffle (the ORDER BY is oracle
    // canonicalization only); offsets come from the walk itself, not a
    // window over record lengths, so the index costs exactly one read of
    // the archive. `roff` not `offset`: OFFSET is an SQL keyword.
    "e51_cdx_index" -> QueryDef(
      (s, dir) => {
        val warcDir = writeWarcCdxFixture(s, dir)
        cdxProject(graft.operators.WarcCdx.parse(
            s.read.format("binaryFile").load(warcDir)))
          .orderBy(col("fname"), col("rec"))
      },
      Some(cdxOracleSql)),

    // E52 — sharded tar corpus export + read-back (the WebDataset-style
    // container a multimodal training job streams; public formats: POSIX
    // ustar + the WebDataset `<key>.<ext>` member convention). The WRITE
    // side is the operator (operators.TarShards.writeShards): one shuffle
    // to co-locate each shard's members, then a streaming per-task walk
    // that writes members one at a time — memory bounded by a single
    // member; shard assignment is `doc_id % 8`, a deterministic function
    // of the key, so the layout is reproducible (no sampled range
    // boundaries) and the oracle can state it. The READ side re-ingests
    // the tars (binaryFile scan → validated ustar walk: magic + header
    // checksum before trusting a member) and emits per-member
    // (doc_id, shard, bytes, sha256) — the digest proves every body
    // byte survived tar framing and 512-block padding; byte length
    // (octet_length/strlen) not char length, so non-ASCII text is
    // handled, not assumed away.
    //
    // Shape at 100 TB: write is repartition(nShards) + streaming walk
    // (a production variant rolls shards past a size budget and targets
    // object storage — framing unchanged); read-back is per-file
    // parallel, scan-local, zero shuffle. The ORDER BY is oracle
    // canonicalization only.
    "e52_tar_shards" -> QueryDef(
      (s, dir) => {
        val tarDir = writeTarShardsFixture(s, dir)
        graft.operators.TarShards.parse(
            s.read.format("binaryFile").load(tarDir))
          .select(
            regexp_extract(col("name"), "^([0-9]+)", 1).cast("long").as("doc_id"),
            regexp_extract(col("fname"), "([0-9]+)", 1).cast("int").as("shard"),
            col("size").as("bytes"),
            sha2(col("content"), 256).as("digest"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
          CAST(strlen(text) AS BIGINT) AS bytes, sha256(text) AS digest
        FROM documents WHERE text IS NOT NULL ORDER BY doc_id""")),

    // E52B — tar LONG-NAME framings (VERDICT r10 item 3): real-world
    // tarballs with >100-char paths (deep repo trees) use GNU @LongLink
    // ('L' meta member), PAX extended headers ('x' path record), or the
    // strict-ustar prefix field — all three previously dropped. One tar
    // rotates the framing by doc_id%3, with a directory entry at the
    // head that the walk must consume without emitting. The oracle
    // reconstructs every member's FULL name from the same arithmetic, so
    // a name truncated at 100 bytes (the pre-fix behavior), a
    // mis-assembled prefix, or a leaked directory row all go red.
    // Per-file parallel, zero shuffle, scan-local walk like e52.
    "e52b_tar_longnames" -> QueryDef(
      (s, dir) => {
        import graft.operators.TarShards
        val outDir = s"$scratch/tarlong_${new java.io.File(dir).getName}"
        val fd = new java.io.File(outDir)
        if (fd.exists()) fd.listFiles().foreach(_.delete())
        fd.mkdirs()
        val rows = t(s, dir, "documents")
          .filter(col("text").isNotNull &&
            col("doc_id") >= 400 && col("doc_id") < 440)
          .select(col("doc_id"), col("text"))
          .orderBy(col("doc_id")).collect()
        val out = new java.io.ByteArrayOutputStream()
        out.write(TarShards.nonRegularEntry("gnu/", '5'))
        rows.foreach { r =>
          val id = r.getLong(0)
          val body = r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          (id % 3).toInt match {
            case 0 => out.write(TarShards.gnuLongEntry(
              s"gnu/${"x" * 110}/$id.txt", body))
            case 1 => out.write(TarShards.paxEntry(
              s"pax/${"p" * 110}/$id.txt", body))
            case _ => out.write(TarShards.prefixEntry(
              s"pre/${"r" * 80}", s"$id.txt", body))
          }
        }
        out.write(new Array[Byte](1024))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/long.tar"), out.toByteArray)
        TarShards.parse(s.read.format("binaryFile").load(outDir))
          .select(
            regexp_extract(col("name"), "([0-9]+)\\.txt$", 1)
              .cast("long").as("doc_id"),
            col("name"),
            col("size").as("bytes"),
            sha2(col("content"), 256).as("digest"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
          CASE CAST(doc_id % 3 AS INT)
            WHEN 0 THEN 'gnu/' || repeat('x', 110) || '/' || doc_id || '.txt'
            WHEN 1 THEN 'pax/' || repeat('p', 110) || '/' || doc_id || '.txt'
            ELSE 'pre/' || repeat('r', 80) || '/' || doc_id || '.txt' END AS name,
          CAST(strlen(text) AS BIGINT) AS bytes, sha256(text) AS digest
        FROM documents
        WHERE text IS NOT NULL AND doc_id >= 400 AND doc_id < 440
        ORDER BY doc_id""")),

    // E99B — TAR.XZ composition (r11): the actual delivery format for
    // source-code corpora (repo tarballs land as `.tar.xz`; The Stack
    // class of pipelines opens millions of them). Nothing new is
    // implemented here — that is the point: the from-scratch xz walk
    // (e99) COMPOSES with the validated tar walk (e52/e52b) including
    // the long-name framings, so one row proves container-in-container
    // end to end. Each archive rotates plain-ustar and GNU @LongLink
    // members, one archive per check id (CRC64 / SHA-256), the second
    // with a raw-chunk splice; the oracle re-derives member names,
    // sizes and body digests from construction. Per-file scan-local,
    // zero shuffle.
    "e99b_tar_xz" -> QueryDef(
      (s, dir) => {
        val outDir = writeTarXzFixture(s, dir)
        tarXzProject(s.read.format("binaryFile").load(outDir))
          .orderBy(col("doc_id"))
      },
      Some(tarXzOracleSql)),

    // E99D — TAR.GZ composition (r11): the most common source-tarball
    // form of all (`.tgz`/`.tar.gz` is how the vast majority of repo
    // and package archives actually ship). Pure composition again: the
    // STRICT gzip walk (CRC32 + ISIZE verified per member,
    // exact-consume — the e98b discipline, since a tar stream has no
    // checksum of its own beyond header sums) under the validated tar
    // walk with GNU long names; the tar bytes are cut across TWO gzip
    // members mid-stream so member boundaries are provably transparent
    // to the tar framing. Per-file scan-local, zero shuffle.
    "e99d_tar_gz" -> QueryDef(
      (s, dir) => {
        val outDir = writeTarGzFixture(s, dir)
        tarGzProject(s.read.format("binaryFile").load(outDir))
          .orderBy(col("doc_id"))
      },
      Some(tarGzOracleSql)),

    // E53 — WET-style conversion export (the WRITE side of the WARC
    // family; public formats: ISO 28500 + the CommonCrawl WET convention
    // of one `conversion` record per page): a filtered corpus re-emitted
    // in the container downstream consumers already read. The operator is
    // operators.WetExport.writeRecords — the distributed streaming
    // rolling-file writer (repartition on bucket + sorted walk, memory
    // bounded by one record, deterministic bucket keys so re-runs are
    // byte-identical). Verification is a full ROUND TRIP: the written
    // files are re-ingested through the e51 offset walk, and the oracle
    // re-derives every record's payload AND its byte offset/length in
    // the emitted file from the same construction arithmetic — a writer
    // that mis-frames a single CRLF shifts every later offset and fails.
    // Record bodies are the raw text (ASCII fixture, the e44 precedent:
    // char length = byte length for Content-Length).
    //
    // Shape at 100 TB: one shuffle (bucket co-location), then streaming
    // per-task writes; the read-back is per-file parallel and scan-local.
    // The ORDER BY is oracle canonicalization only.
    "e53_wet_export" -> QueryDef(
      (s, dir) => {
        val outDir = s"$scratch/wet_${new java.io.File(dir).getName}"
        val d = t(s, dir, "documents")
          .filter(col("text").isNotNull && col("doc_id") < 400)
        val rec = concat(
          lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: https://"),
          col("source"), lit(".example.com/p/"), col("doc_id"),
          lit("\r\nWARC-Record-ID: <urn:uuid:conv-"), col("doc_id"),
          lit(">\r\nContent-Length: "), length(col("text")),
          lit("\r\n\r\n"), col("text"), lit("\r\n\r\n"))
        graft.operators.WetExport.writeRecords(
          d.select((col("doc_id") % 4).as("bucket"), col("doc_id").as("key"),
            rec.as("rec")),
          outDir, "wet")
        graft.operators.WarcCdx.parse(
            s.read.format("binaryFile").load(outDir))
          .select(col("fname"), col("rec"), col("uri"), col("payload"),
            col("offset").as("roff"), col("rlen"))
          .orderBy(col("fname"), col("rec"))
      },
      Some("""WITH nlc AS (SELECT chr(13) || chr(10) AS nl),
        d AS (SELECT doc_id, source, text, CAST(doc_id % 4 AS INT) AS b
          FROM documents WHERE text IS NOT NULL AND doc_id < 400),
        r AS (SELECT d.*,
            'WARC/1.0' || nl || 'WARC-Type: conversion' || nl ||
            'WARC-Target-URI: https://' || source || '.example.com/p/' ||
              CAST(doc_id AS VARCHAR) || nl ||
            'WARC-Record-ID: <urn:uuid:conv-' || CAST(doc_id AS VARCHAR) || '>' || nl ||
            'Content-Length: ' || CAST(length(text) AS VARCHAR) || nl || nl ||
            text || nl || nl AS rec_str
          FROM d, nlc),
        o AS (SELECT *,
            CAST(row_number() OVER (PARTITION BY b ORDER BY doc_id) - 1 AS INT) AS rec,
            CAST(coalesce(sum(length(rec_str)) OVER (PARTITION BY b ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS roff,
            CAST(length(rec_str) AS BIGINT) AS rlen
          FROM r)
        SELECT 'wet' || CAST(b AS VARCHAR) || '.warc' AS fname, rec,
          'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS uri,
          text AS payload, roff, rlen
        FROM o ORDER BY fname, rec""")),

    // E54 — outlink extraction (the WAT stage: CommonCrawl's WAT files
    // are precomputed per-page outlink lists, and this is the query that
    // computes them): `html_links` (char-level anchor walker — comments,
    // RAWTEXT script/style and quoted `>` handled, entity decode once)
    // → `url_resolve` (RFC 3986 §5.2 against the page URI) →
    // `url_normalize` (§6.2.2 + fragment strip) — raw href soup in,
    // frontier-ready absolute URLs out. The fixture HTML plants one of
    // each resolution class per page (absolute path, relative path with
    // a hostile quoted-`>` attribute before the href, `../` traversal
    // with a fragment, absolute URL needing case/port/percent
    // normalization, query-only self-reference, entity-encoded query)
    // plus three NON-links (commented-out anchor, document.write'd
    // anchor inside script raw text, href-less anchor) that must NOT be
    // extracted — the oracle states the six expected URLs per page from
    // construction arithmetic, so one phantom or missing link breaks the
    // row count and any mis-resolution breaks the hash.
    //
    // Shape at 100 TB: scalar projection + posexplode — scan-local
    // flatMap, zero shuffle; the ORDER BY is oracle canonicalization.
    "e54_link_extract" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .filter(col("text").isNotNull && col("doc_id") < 300)
          .withColumn("k", (col("doc_id") % 7).cast("int"))
          .withColumn("base", concat(lit("https://"), col("source"),
            lit(".example.com/sec"), col("k"), lit("/a/"), col("doc_id")))
          .withColumn("html", concat(
            lit("<html><body><a href=\"/abs/"), col("doc_id"),
            lit("\">a1</a><!-- <a href=\"/hidden/"), col("doc_id"),
            lit("\">no</a> --><a title=\"x>y\" href='rel/"), col("doc_id"),
            lit("?q=1'>a2</a><script>document.write('<a href=\"/js/"), col("doc_id"),
            lit("\">');</script><a href=\"../up/"), col("doc_id"),
            lit("#frag\">a3</a><a href=\"HTTP://Mirror.Example.COM:80/m/%7e"), col("doc_id"),
            lit("\">a4</a><a href=\"?only="), col("doc_id"),
            lit("\">a5</a><a href=\"/e/"), col("doc_id"),
            lit("?a=1&amp;b=2\">a6</a><a name=\"x\">plain</a>"),
            col("text"), lit("</body></html>")))
          .select(col("doc_id"), col("base"),
            posexplode(expr("html_links(html)")))
          .select(col("doc_id"), col("pos"),
            expr("url_normalize(url_resolve(base, col))").as("url"))
          .orderBy(col("doc_id"), col("pos")),
      Some("""WITH d AS (SELECT doc_id, source, CAST(doc_id % 7 AS INT) AS k
          FROM documents WHERE text IS NOT NULL AND doc_id < 300),
        l AS (
          SELECT doc_id, 0 AS pos, 'https://' || source || '.example.com/abs/'
            || CAST(doc_id AS VARCHAR) AS url FROM d
          UNION ALL SELECT doc_id, 1, 'https://' || source || '.example.com/sec'
            || CAST(k AS VARCHAR) || '/a/rel/' || CAST(doc_id AS VARCHAR) || '?q=1' FROM d
          UNION ALL SELECT doc_id, 2, 'https://' || source || '.example.com/sec'
            || CAST(k AS VARCHAR) || '/up/' || CAST(doc_id AS VARCHAR) FROM d
          UNION ALL SELECT doc_id, 3, 'http://mirror.example.com/m/~'
            || CAST(doc_id AS VARCHAR) FROM d
          UNION ALL SELECT doc_id, 4, 'https://' || source || '.example.com/sec'
            || CAST(k AS VARCHAR) || '/a/' || CAST(doc_id AS VARCHAR)
            || '?only=' || CAST(doc_id AS VARCHAR) FROM d
          UNION ALL SELECT doc_id, 5, 'https://' || source || '.example.com/e/'
            || CAST(doc_id AS VARCHAR) || '?a=1&b=2' FROM d)
        SELECT doc_id, pos, url FROM l ORDER BY doc_id, pos""")),

    // E54b — host-level link graph from the same extraction: the
    // aggregation that turns per-page outlinks into the (src, dst) edge
    // list e45's PageRank consumes. Hosts via the stock codegen
    // `parse_url(url, 'HOST')` over the resolved URLs — the corpus-side
    // work stays scan-local and the ONE shuffle carries light
    // (src_host, dst_host) pairs, never payloads or full URLs: at
    // 100 TB the edge list is the WAT-derived graph, orders of magnitude
    // smaller than the crawl, and the agg is a plain partial+final hash
    // aggregate on a bounded host domain.
    "e54b_link_graph" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .filter(col("text").isNotNull && col("doc_id") < 300)
          .withColumn("k", (col("doc_id") % 7).cast("int"))
          .withColumn("base", concat(lit("https://"), col("source"),
            lit(".example.com/sec"), col("k"), lit("/a/"), col("doc_id")))
          .withColumn("html", concat(
            lit("<html><body><a href=\"/abs/"), col("doc_id"),
            lit("\">a1</a><!-- <a href=\"/hidden/"), col("doc_id"),
            lit("\">no</a> --><a title=\"x>y\" href='rel/"), col("doc_id"),
            lit("?q=1'>a2</a><script>document.write('<a href=\"/js/"), col("doc_id"),
            lit("\">');</script><a href=\"../up/"), col("doc_id"),
            lit("#frag\">a3</a><a href=\"HTTP://Mirror.Example.COM:80/m/%7e"), col("doc_id"),
            lit("\">a4</a><a href=\"?only="), col("doc_id"),
            lit("\">a5</a><a href=\"/e/"), col("doc_id"),
            lit("?a=1&amp;b=2\">a6</a><a name=\"x\">plain</a>"),
            col("text"), lit("</body></html>")))
          .select(col("doc_id"),
            concat(col("source"), lit(".example.com")).as("src_host"),
            explode(expr(
              "transform(html_links(html), h -> parse_url(url_normalize(url_resolve(base, h)), 'HOST'))"))
              .as("dst_host"))
          .groupBy(col("src_host"), col("dst_host"))
          .agg(count(lit(1)).as("n_links"),
            countDistinct(col("doc_id")).as("n_pages"))
          .orderBy(col("src_host"), col("dst_host")),
      Some("""WITH d AS (SELECT doc_id, source
          FROM documents WHERE text IS NOT NULL AND doc_id < 300),
        e AS (SELECT doc_id, source || '.example.com' AS src_host,
            CASE WHEN p.pos = 3 THEN 'mirror.example.com'
                 ELSE source || '.example.com' END AS dst_host
          FROM d CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5)) AS p(pos))
        SELECT src_host, dst_host, count(*) AS n_links,
          count(DISTINCT doc_id) AS n_pages
        FROM e GROUP BY src_host, dst_host ORDER BY src_host, dst_host""")),

    // E55 — Bloom-filter URL-seen test, GLOBAL form (operators.BloomSeen;
    // Bloom 1970; the Broder–Mitzenmacher crawl-frontier application):
    // the frontier membership check run on every extracted link before
    // fetching. Bit positions are md5-hex substrings (k=3 chunks of 3 hex
    // digits → m=4096), so DuckDB re-derives every verdict — INCLUDING
    // the false positives this fixture deliberately exercises (the seen
    // set fills ~19% of the bitmap; 2 of the 215 unseen candidates
    // false-positive at sf0.01, and both engines must agree on WHICH
    // two, byte for byte). Seen = doc_id < 300 minus one whole source.
    //
    // Shape at 100 TB: the build is one partial+final aggregate with
    // FIXED-SIZE state (m/8 bytes regardless of URLs seen — the c09
    // bitmap trade done right, state sized by config not key domain);
    // the probe carries the bitmap as a 1-row broadcast and stays
    // scan-local. No driver collect anywhere.
    "e55_bloom_seen" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), col("source"),
            concat(lit("https://"), col("source"), lit(".example.com/p/"),
              col("doc_id")).as("url"))
        val seen = docs.filter(col("doc_id") < 300 && col("source") =!= "src19")
        graft.operators.BloomSeen
          .globalFilter(seen, docs, "url", k = 3, hexChars = 3)
          .select(col("doc_id"), col("url"), col("maybe_seen"))
          .orderBy(col("doc_id"))
      },
      Some(bloomOracleSql)),

    // E55b — the PER-HOST sharded form (k=3, 2 hex digits → m=256 bits
    // per host): one filter per host built by the same aggregate grouped
    // on the key, delivered by an equi-join — total state scales with
    // LIVE HOSTS, not URLs seen, and no single bitmap need fit anywhere:
    // the 10-billion-URL frontier shape. A candidate whose host has no
    // filter (src19 here — excluded from seen entirely) is definitely
    // new via the NULL-bitmap path, which this fixture exercises on a
    // whole host's worth of rows.
    "e55b_bloom_perhost" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), col("source"),
            concat(col("source"), lit(".example.com")).as("host"),
            concat(lit("https://"), col("source"), lit(".example.com/p/"),
              col("doc_id")).as("url"))
        val seen = docs.filter(col("doc_id") < 300 && col("source") =!= "src19")
        graft.operators.BloomSeen
          .perKeyFilter(seen, docs, "host", "url", k = 3, hexChars = 2)
          .select(col("doc_id"), col("host"), col("url"), col("maybe_seen"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH u AS (SELECT doc_id, source, source || '.example.com' AS host,
            'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url
          FROM documents WHERE text IS NOT NULL),
        seen AS (SELECT host, url FROM u WHERE doc_id < 300 AND source <> 'src19'),
        pos AS (SELECT host, substr(md5(url), 1, 2) AS p FROM seen
          UNION SELECT host, substr(md5(url), 3, 2) FROM seen
          UNION SELECT host, substr(md5(url), 5, 2) FROM seen)
        SELECT doc_id, host, url,
          (EXISTS(SELECT 1 FROM pos WHERE pos.host = u.host
             AND pos.p = substr(md5(u.url), 1, 2))
           AND EXISTS(SELECT 1 FROM pos WHERE pos.host = u.host
             AND pos.p = substr(md5(u.url), 3, 2))
           AND EXISTS(SELECT 1 FROM pos WHERE pos.host = u.host
             AND pos.p = substr(md5(u.url), 5, 2)))
            AS maybe_seen
        FROM u ORDER BY doc_id""")),

    // E56 — politeness fetch scheduling: the frontier stage after the
    // seen test — queue each host's URLs one slot apart (politeness IS
    // per-host serialization) at that host's crawl delay, highest
    // priority first. Priority is the seedless md5 rank (the e16/e23
    // engine-neutral permutation); delay classes derive from the host by
    // arithmetic both engines share. slot = per-host dense position,
    // sched_ms = slot × delay — the dispatch timestamp a fetcher would
    // sleep until; n_queued sizes each host's backlog.
    //
    // Shape at 100 TB: ONE host-keyed shuffle, then per-host windows —
    // the partitioning a sharded frontier runs anyway (a host's queue
    // must live somewhere whole); across hosts it is embarrassingly
    // parallel, and no host's queue is ever collected to one machine
    // beyond its own partition. The ORDER BY is oracle canonicalization.
    "e56_fetch_schedule" -> QueryDef(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("host"))
          .orderBy(md5(col("url").cast("binary")), col("url"))
        t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            concat(col("source"), lit(".example.com")).as("host"),
            concat(lit("https://"), col("source"), lit(".example.com/p/"),
              col("doc_id")).as("url"),
            (lit(500) + lit(250) * (length(col("source")) - 4))
              .cast("int").as("delay_ms"))
          .withColumn("slot", (row_number().over(w) - 1).cast("int"))
          .withColumn("sched_ms",
            (col("slot") * col("delay_ms")).cast("bigint"))
          .withColumn("n_queued", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("host"))))
          .select(col("doc_id"), col("host"), col("slot"),
            col("delay_ms"), col("sched_ms"), col("n_queued"))
          .orderBy(col("host"), col("slot"))
      },
      Some("""WITH u AS (SELECT doc_id, source || '.example.com' AS host,
            'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url,
            CAST(500 + 250 * (length(source) - 4) AS INT) AS delay_ms
          FROM documents WHERE text IS NOT NULL)
        SELECT doc_id, host,
          CAST(row_number() OVER w - 1 AS INT) AS slot, delay_ms,
          CAST((row_number() OVER w - 1) * delay_ms AS BIGINT) AS sched_ms,
          count(*) OVER (PARTITION BY host) AS n_queued
        FROM u WINDOW w AS (PARTITION BY host ORDER BY md5(url), url)
        ORDER BY host, slot""")),

    // E57 — sitemap ingest (public format: the sitemaps.org XML
    // protocol — how a crawl frontier is SEEDED, the stage before e56's
    // scheduling): binaryFile scan of a sitemap directory → root-element
    // check (`<urlset>` files yield URL rows; the `<sitemapindex>` file
    // in the same directory must yield NONE — the envelope case a naive
    // `<loc>` grep gets wrong) → per-entry loc/lastmod/priority via
    // regexp_extract_all + arrays_zip + posexplode → XML entity unescape
    // (`&amp;` per the sitemap spec's escaping requirement) →
    // url_normalize, because seed locs arrive with scheme/host case and
    // default ports the frontier must fold before its seen test (the
    // fixture plants both). lastmod lands as a DATE, priority as DOUBLE
    // — typed columns, not strings.
    //
    // Shape at 100 TB: per-file parallel, scan-local projection + flatMap
    // — zero shuffle; the ORDER BY is oracle canonicalization.
    "e57_sitemap_ingest" -> QueryDef(
      (s, dir) => {
        val smDir = writeSitemapFixture(s, dir)
        sitemapProject(s.read.format("binaryFile").load(smDir))
          .orderBy(col("fname"), col("pos"))
      },
      Some(sitemapOracleSql)),

    // E58 — crawl-snapshot diff: given two crawls of the same sites, the
    // per-URL verdict added / removed / changed / unchanged by content
    // digest — the incremental-recrawl primitive (what changed since
    // last month's crawl feeds re-extraction; unchanged pages skip the
    // whole pipeline). Snapshots derive from construction: snapshot B
    // drops every 11≡5 page, revises every 11≡3 page, and gains a new
    // URL per 13≡2 page. The diff is ONE full outer join on the URL key
    // comparing digests — at corpus scale this joins two CDX-sized
    // (url, digest) indexes, never the page bodies, and the join key is
    // exactly the sharding both snapshots already have.
    "e58_crawl_diff" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), col("source"), col("text"),
            concat(lit("https://"), col("source"), lit(".example.com/p/"),
              col("doc_id")).as("url"))
        val a = docs.select(col("url"), sha2(col("text"), 256).as("old_digest"))
        val bKept = docs.filter(col("doc_id") % 11 =!= 5)
          .select(col("url"), sha2(
            when(col("doc_id") % 11 === 3, concat(col("text"), lit(" [rev2]")))
              .otherwise(col("text")), 256).as("new_digest"))
        val bNew = docs.filter(col("doc_id") % 13 === 2)
          .select(concat(lit("https://"), col("source"), lit(".example.com/p/"),
              col("doc_id") + 20000L).as("url"),
            sha2(concat(lit("new page "), col("doc_id")), 256).as("new_digest"))
        a.join(bKept.unionByName(bNew), Seq("url"), "full_outer")
          .select(col("url"),
            when(col("old_digest").isNull, lit("added"))
              .when(col("new_digest").isNull, lit("removed"))
              .when(col("old_digest") =!= col("new_digest"), lit("changed"))
              .otherwise(lit("unchanged")).as("status"),
            col("old_digest"), col("new_digest"))
          .orderBy(col("url"))
      },
      Some("""WITH docs AS (SELECT doc_id, source, text,
            'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url
          FROM documents WHERE text IS NOT NULL),
        a AS (SELECT url, sha256(text) AS old_digest FROM docs),
        b AS (SELECT url, sha256(CASE WHEN doc_id % 11 = 3
                THEN text || ' [rev2]' ELSE text END) AS new_digest
            FROM docs WHERE doc_id % 11 <> 5
          UNION ALL
          SELECT 'https://' || source || '.example.com/p/'
              || CAST(doc_id + 20000 AS VARCHAR),
            sha256('new page ' || CAST(doc_id AS VARCHAR))
            FROM docs WHERE doc_id % 13 = 2)
        SELECT coalesce(a.url, b.url) AS url,
          CASE WHEN a.url IS NULL THEN 'added'
               WHEN b.url IS NULL THEN 'removed'
               WHEN old_digest <> new_digest THEN 'changed'
               ELSE 'unchanged' END AS status,
          old_digest, new_digest
        FROM a FULL OUTER JOIN b ON a.url = b.url ORDER BY url""")),

    // E60 — per-source curation report: the dashboard a pipeline owner
    // reads daily — per source, corpus volume (docs, tokens, chars),
    // duplication (docs whose text occurs corpus-wide more than once,
    // distinct texts), language mix, and a short-document quality flag.
    // Two aggregation passes composed: a digest-keyed multiplicity
    // table (the e01 shape — sha2 bounds the shuffle key at any corpus
    // size) joined back to the scan, then ONE source-keyed aggregate.
    // At 100 TB both shuffles carry light keyed rows (digest / source),
    // never document bodies; source cardinality is dimension-scale so
    // the final agg is tiny.
    "e60_source_report" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), col("source"), col("lang"),
            sha2(col("text"), 256).as("h"),
            length(col("text")).as("len"),
            size(split(col("text"), " ")).as("n_toks"))
        val mult = docs.groupBy(col("h")).agg(count(lit(1)).as("m"))
        docs.join(mult, Seq("h"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("h")).as("n_texts"),
            sum(when(col("m") > 1, 1).otherwise(0)).as("n_dup_docs"),
            sum(col("n_toks")).as("n_tokens"),
            sum(col("len")).as("n_chars"),
            (sum(col("len")).cast("double") / count(lit(1))).as("avg_len"),
            sum(when(col("lang") === "en", 1).otherwise(0)).as("n_en"),
            sum(when(col("len") < 50, 1).otherwise(0)).as("n_short"))
          .orderBy(col("source"))
      },
      Some("""WITH docs AS (SELECT doc_id, source, lang, sha256(text) AS h,
            length(text) AS len, len(string_split(text, ' ')) AS n_toks
          FROM documents WHERE text IS NOT NULL),
        mult AS (SELECT h, count(*) AS m FROM docs GROUP BY h)
        SELECT source, count(*) AS n_docs,
          count(DISTINCT docs.h) AS n_texts,
          CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
          CAST(sum(n_toks) AS BIGINT) AS n_tokens,
          CAST(sum(len) AS BIGINT) AS n_chars,
          CAST(sum(len) AS DOUBLE) / count(*) AS avg_len,
          CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
          CAST(sum(CASE WHEN len < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
        FROM docs JOIN mult ON docs.h = mult.h
        GROUP BY source ORDER BY source""")),

    // E44c — charset SNIFFING for payloads with no declared charset
    // (functions.CharsetSniff — the WHATWG no-declaration cascade: BOM →
    // strict UTF-8 validation walk → windows-1252 fallback; e44b handles
    // the DECLARED-charset case, this closes the header-less majority).
    // The fixture synthesizes the three byte shapes in-query: a valid
    // multi-byte UTF-8 tail, a cp1252 tail whose bytes REJECT under
    // strict UTF-8 (93 94 85 96 — smart quotes/ellipsis/en-dash, which
    // latin-1 would mis-decode as C1 controls), and a BOM-led payload
    // whose BOM must be consumed, not emitted. The oracle states each
    // branch's detected label and decoded text from construction. Pure
    // scan-local codegen projection.
    "e44c_charset_sniff" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents").filter(col("text").isNotNull)
          .withColumn("bin",
            when(col("doc_id") % 3 === 0,
              concat(encode(col("text"), "UTF-8"), unhex(lit("20C3A9E282AC"))))
            .when(col("doc_id") % 3 === 1,
              concat(encode(col("text"), "UTF-8"), unhex(lit("2093948596"))))
            .otherwise(concat(unhex(lit("EFBBBF")), encode(col("text"), "UTF-8"))))
          .select(col("doc_id"),
            expr("detect_charset(bin)").as("charset"),
            expr("sniff_text(bin)").as("text_out"))
          .withColumn("n_chars", length(col("text_out")))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
          CASE WHEN doc_id % 3 = 1 THEN 'windows-1252' ELSE 'UTF-8' END AS charset,
          CASE CAST(doc_id % 3 AS INT)
            WHEN 0 THEN text || ' é€'
            WHEN 1 THEN text || ' ' || chr(8220) || chr(8221) || chr(8230) || chr(8211)
            ELSE text END AS text_out,
          CAST(length(CASE CAST(doc_id % 3 AS INT)
            WHEN 0 THEN text || ' é€'
            WHEN 1 THEN text || ' ' || chr(8220) || chr(8221) || chr(8230) || chr(8211)
            ELSE text END) AS INT) AS n_chars
        FROM documents WHERE text IS NOT NULL ORDER BY doc_id""")),

    // E49b — robots.txt `Sitemap:` directive extraction: how sitemaps
    // are DISCOVERED (the sitemaps.org/robots extension every crawler
    // honors) — the link between e49's robots parse and e57's sitemap
    // ingest in the frontier chain. Key matches case-insensitively at
    // line start (a commented-out `# Sitemap:` must NOT extract), values
    // are absolute URLs fed through url_normalize (the fixture plants a
    // shouting-case host with an explicit :443 that must fold). One
    // scan-local projection over the per-domain bodies.
    "e49b_robots_sitemaps" -> QueryDef(
      (s, dir) => {
        val doms = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(concat(col("source"), lit(".example.com")).as("domain"))
          .distinct()
        doms.withColumn("content", concat(
            lit("User-agent: *\nDisallow: /tmp/\nSitemap: https://"),
            col("domain"),
            lit("/sitemap0.xml\nsitemap: HTTPS://"), upper(col("domain")),
            lit(":443/sm/other.xml\n# Sitemap: https://ignored.example.com/no.xml\n")))
          .select(col("domain"), posexplode(expr(
            "transform(regexp_extract_all(content, '(?im)^sitemap:[ \\\\t]*(\\\\S+)', 1)," +
              " u -> url_normalize(u))")))
          .select(col("domain"), col("pos"), col("col").as("sitemap_url"))
          .orderBy(col("domain"), col("pos"))
      },
      Some("""WITH doms AS (SELECT DISTINCT source || '.example.com' AS domain
          FROM documents WHERE text IS NOT NULL),
        l AS (
          SELECT domain, 0 AS pos,
            'https://' || domain || '/sitemap0.xml' AS sitemap_url FROM doms
          UNION ALL SELECT domain, 1,
            'https://' || domain || '/sm/other.xml' FROM doms)
        SELECT domain, pos, sitemap_url FROM l ORDER BY domain, pos""")),

    // E66 — recrawl priority scheduling: the frontier's DECISION function
    // for a second crawl — what to fetch next is worth × change-rate ×
    // politeness. Composes three constructions already under oracle:
    // e58's snapshot diff supplies per-URL status (changed pages revisit
    // hottest, added next, unchanged last; removed pages leave the
    // frontier), the e45 link-graph construction supplies domain
    // authority as in-degree (the 1-step PageRank proxy — dimension-
    // scale, derivable in closed form), and e56's per-host slotting
    // turns priority order into dispatch times at each host's crawl
    // delay. priority = status-weight × (1 + indegree); ties break by
    // the seedless md5 rank. ONE host-keyed shuffle for the windows;
    // the authority join is a broadcast-sized dimension.
    "e66_recrawl_priority" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), col("source"))
        val b = docs.filter(col("doc_id") % 11 =!= 5)
          .select(col("source"),
            concat(lit("https://"), col("source"), lit(".example.com/p/"),
              col("doc_id")).as("url"),
            when(col("doc_id") % 11 === 3, lit("changed"))
              .otherwise(lit("unchanged")).as("status"))
          .unionByName(docs.filter(col("doc_id") % 13 === 2)
            .select(col("source"),
              concat(lit("https://"), col("source"), lit(".example.com/p/"),
                col("doc_id") + 20000L).as("url"),
              lit("added").as("status")))
        val edges = docs
          .select(col("source").as("src"),
            concat(lit("src"), col("doc_id") % 7).as("dst"))
          .filter(col("src") =!= col("dst")).distinct()
        val indeg = edges.groupBy(col("dst"))
          .agg(countDistinct(col("src")).as("ind"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("host"))
          .orderBy(col("priority").desc, md5(col("url").cast("binary")), col("url"))
        b.join(broadcast(indeg), b("source") === indeg("dst"), "left")
          .select(col("source"), col("url"), col("status"),
            coalesce(col("ind"), lit(0L)).cast("int").as("indeg"))
          .withColumn("host", concat(col("source"), lit(".example.com")))
          .withColumn("priority",
            (when(col("status") === "changed", 3)
              .when(col("status") === "added", 2).otherwise(1)
              * (lit(1) + col("indeg"))).cast("int"))
          .withColumn("delay_ms",
            (lit(500) + lit(250) * (length(col("source")) - 4)).cast("int"))
          .withColumn("slot", (row_number().over(w) - 1).cast("int"))
          .withColumn("sched_ms", (col("slot") * col("delay_ms")).cast("bigint"))
          .select(col("url"), col("host"), col("status"), col("indeg"),
            col("priority"), col("slot"), col("sched_ms"))
          .orderBy(col("host"), col("slot"))
      },
      Some("""WITH docs AS (SELECT doc_id, source
          FROM documents WHERE text IS NOT NULL),
        b AS (SELECT source,
            'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url,
            CASE WHEN doc_id % 11 = 3 THEN 'changed' ELSE 'unchanged' END AS status
          FROM docs WHERE doc_id % 11 <> 5
          UNION ALL SELECT source,
            'https://' || source || '.example.com/p/' || CAST(doc_id + 20000 AS VARCHAR),
            'added'
          FROM docs WHERE doc_id % 13 = 2),
        edges AS (SELECT DISTINCT source AS src,
            'src' || CAST(doc_id % 7 AS VARCHAR) AS dst
          FROM docs WHERE source <> 'src' || CAST(doc_id % 7 AS VARCHAR)),
        ind AS (SELECT dst, count(DISTINCT src) AS ind FROM edges GROUP BY dst),
        p AS (SELECT b.url, b.status,
            CAST(coalesce(ind.ind, 0) AS INT) AS indeg,
            CAST((CASE b.status WHEN 'changed' THEN 3 WHEN 'added' THEN 2
              ELSE 1 END) * (1 + coalesce(ind.ind, 0)) AS INT) AS priority,
            b.source || '.example.com' AS host,
            CAST(500 + 250 * (length(b.source) - 4) AS INT) AS delay_ms
          FROM b LEFT JOIN ind ON ind.dst = b.source)
        SELECT url, host, status, indeg, priority,
          CAST(row_number() OVER w - 1 AS INT) AS slot,
          CAST((row_number() OVER w - 1) * delay_ms AS BIGINT) AS sched_ms
        FROM p WINDOW w AS (PARTITION BY host ORDER BY priority DESC, md5(url), url)
        ORDER BY host, slot""")),

    // E65 — WITHIN-document line dedup: the intra-page half of repetition
    // cleanup (e40 drops corpus-frequent boilerplate ACROSS documents;
    // this drops a line repeated INSIDE one page — chat transcripts,
    // scraped pagination, duplicated CTAs — keeping the FIRST occurrence
    // in order). The fixture plants two repeat classes per document: the
    // first content line re-appended at the end and a doubled CTA line.
    // first-occurrence = row_number over (doc_id, line) by position —
    // the window partitions by (doc_id, line), so state is bounded by
    // within-document multiplicity (the e48 doc-bounded-window rule;
    // never a corpus-keyed window); reassembly groups by doc_id,
    // bounded by document length.
    "e65_within_doc_dedup" -> QueryDef(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"), col("line")).orderBy(col("pos"))
        t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), expr(
            """concat(
                 transform(sequence(0, CAST((size(split(text, ' ')) - 1) / 8 AS INT)),
                   i -> array_join(slice(split(text, ' '), i * 8 + 1, 8), ' ')),
                 array(array_join(slice(split(text, ' '), 1, 8), ' ')),
                 array('subscribe to the newsletter', 'subscribe to the newsletter'))""")
            .as("lines"))
          .select(col("doc_id"), posexplode(col("lines")).as(Seq("pos", "line")))
          .withColumn("rn", row_number().over(w))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_lines"),
            sum(when(col("rn") === 1, 1).otherwise(0)).as("n_kept"),
            array_join(expr(
              "transform(sort_array(collect_list(CASE WHEN rn = 1 THEN struct(pos, line) END)), x -> x.line)"),
              "\n").as("cleaned"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL),
        ln AS (SELECT doc_id,
            list_concat(list_concat(
              list_transform(generate_series(0, (len(toks) - 1) // 8),
                i -> array_to_string(toks[i*8 + 1 : i*8 + 8], ' ')),
              [array_to_string(toks[1:8], ' ')]),
              ['subscribe to the newsletter', 'subscribe to the newsletter']) AS lines
          FROM d),
        e AS (SELECT doc_id, CAST(u.i - 1 AS INT) AS pos, lines[u.i] AS line
          FROM ln, UNNEST(generate_series(1, len(lines))) AS u(i)),
        r AS (SELECT doc_id, pos, line,
            row_number() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn
          FROM e)
        SELECT doc_id, count(*) AS n_lines,
          CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          string_agg(CASE WHEN rn = 1 THEN line END, chr(10) ORDER BY pos) AS cleaned
        FROM r GROUP BY doc_id ORDER BY doc_id""")),

    // E63 — main-content extraction by link density (jusText/trafilatura
    // class, Pomikálek 2011): `html_blocks` segments a page into
    // block-level text runs with per-block anchor-char counts (native
    // extractor), then the boilerplate verdict is a COLUMN PREDICATE —
    // link-dense or too-short blocks (nav, ad rails, footers) drop,
    // long link-sparse blocks (the article) keep. The fixture plants a
    // five-block page per document: nav (3 links), two content blocks
    // from the document text, an ad aside and a link-only footer; the
    // oracle re-derives every block's text, link count AND verdict from
    // construction — including the cases where a short document makes a
    // content block fail the length gate, which both engines must agree
    // on. Scan-local flatMap, zero shuffle; composes with e40 downstream.
    "e63_main_content" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 18)
          .withColumn("html", concat(
            lit("<html><body><nav><a href=\"/\">home</a> <a href=\"/a\">about</a>" +
              " <a href=\"/c\">contact</a></nav><p>"),
            array_join(slice(col("toks"), 1, 10), " "),
            lit("</p><div>"),
            array_join(slice(col("toks"), 11, 8), " "),
            lit(" extra words</div><aside>ads: <a href=\"/buy\">buy</a>" +
              " <a href=\"/now\">now</a></aside><footer><a href=\"/tos\">terms</a>" +
              " | <a href=\"/priv\">privacy</a></footer></body></html>")))
          .select(col("doc_id"), posexplode(expr("html_blocks(html)")))
          .select(col("doc_id"), col("pos"),
            col("col.txt").as("txt"), col("col.links").as("links"))
          .withColumn("kept",
            col("links") * 2 < length(col("txt")) && length(col("txt")) >= 20)
          .orderBy(col("doc_id"), col("pos")),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL),
        f AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 18),
        l AS (
          SELECT doc_id, 0 AS pos, 'home about contact' AS txt, 16 AS links FROM f
          UNION ALL SELECT doc_id, 1, array_to_string(toks[1:10], ' '), 0 FROM f
          UNION ALL SELECT doc_id, 2,
            array_to_string(toks[11:18], ' ') || ' extra words', 0 FROM f
          UNION ALL SELECT doc_id, 3, 'ads: buy now', 6 FROM f
          UNION ALL SELECT doc_id, 4, 'terms | privacy', 12 FROM f)
        SELECT doc_id, pos, txt, CAST(links AS INT) AS links,
          (links * 2 < length(txt) AND length(txt) >= 20) AS kept
        FROM l ORDER BY doc_id, pos""")),

    // E62 — CDX point lookup through the at-rest index layout
    // (operators.PointLookupWrite): the e51 index re-written range-laid
    // on urlkey with a parquet Bloom filter on digest, then probed by
    // ONE digest — the "have we archived this exact content?" lookup a
    // dedup-against-archive pass issues per candidate. The digest is a
    // bounded 1-row lookup (the e03 precedent), the probe is a stock
    // parquet scan whose EqualTo(digest) reaches PushedFilters (PlanSpec
    // pin) — at petabyte scale that filter rides the per-row-group Bloom
    // bitsets, so a miss never decodes a page. The oracle wraps the e51
    // construction and filters it by the same digest arithmetic; if the
    // layout rewrite dropped or duplicated a record, the row set breaks.
    "e62_cdx_lookup" -> QueryDef(
      (s, dir) => {
        val warcDir = writeWarcCdxFixture(s, dir)
        val idxDir = s"$scratch/cdx_idx_${new java.io.File(dir).getName}"
        val index = cdxProject(graft.operators.WarcCdx.parse(
          s.read.format("binaryFile").load(warcDir)))
        graft.operators.PointLookupWrite.write(index, idxDir,
          sortCol = "urlkey", bloomCols = Seq("digest"), files = 2,
          ndvPerGroup = 1000L)
        val target = t(s, dir, "documents")
          .filter(col("doc_id") === 123)
          .select(sha2(col("text"), 256)).collect().head.getString(0)
        s.read.parquet(idxDir)
          .filter(col("digest") === target)
          .orderBy(col("fname"), col("rec"))
      },
      Some(s"""SELECT * FROM ($cdxOracleSql)
        WHERE digest = sha256((SELECT text FROM documents WHERE doc_id = 123))
        ORDER BY fname, rec""")),

    // E61 — composed FRONTIER pipeline (the e47 composition precedent,
    // frontier side): sitemap seeding → URL-seen filter → politeness
    // scheduling in ONE DAG. The e57 sitemap fixture seeds candidate
    // URLs (XML parse, unescape, url_normalize); the e55 global Bloom
    // filter — built from the crawled-corpus seen set — keeps only
    // maybe-new URLs (a false positive here wrongly SKIPS a URL: the
    // composition inherits Bloom semantics, and the oracle re-derives
    // exactly which URLs that affects); the survivors get e56's
    // per-host fetch slots at per-host delay. Interaction case by
    // construction: doc_id%7 pages seed with a ?a=1&b=2 query URL that
    // the crawled set never contained — those stay new even where the
    // page itself was seen — while %35 pages collapse to the plain form
    // and filter out. Shape: scan-local parse + 1-row broadcast probe,
    // then ONE host-keyed shuffle for the windows — the only shuffle in
    // the whole DAG.
    "e61_frontier_pipeline" -> QueryDef(
      (s, dir) => {
        val smDir = writeSitemapFixture(s, dir)
        val cand = s.read.format("binaryFile").load(smDir)
          .select(col("content").cast("string").as("xml"))
          .filter(col("xml").contains("<urlset"))
          .select(explode(expr(
            "transform(regexp_extract_all(xml, '<loc>([^<]+)</loc>', 1)," +
              " l -> url_normalize(replace(l, '&amp;', '&')))")).as("url"))
          .select(col("url"), expr("parse_url(url, 'HOST')").as("host"))
        val seen = t(s, dir, "documents").filter(col("text").isNotNull)
          .filter(col("doc_id") < 300 && col("source") =!= "src19")
          .select(concat(lit("https://"), col("source"), lit(".example.com/p/"),
            col("doc_id")).as("url"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("host"))
          .orderBy(md5(col("url").cast("binary")), col("url"))
        graft.operators.BloomSeen.globalFilter(seen, cand, "url", k = 3, hexChars = 3)
          .filter(!col("maybe_seen"))
          .withColumn("delay_ms", (lit(500) +
            lit(250) * (length(regexp_extract(col("host"), "^([^.]+)", 1)) - 4))
            .cast("int"))
          .withColumn("slot", (row_number().over(w) - 1).cast("int"))
          .withColumn("sched_ms", (col("slot") * col("delay_ms")).cast("bigint"))
          .select(col("url"), col("host"), col("slot"), col("delay_ms"),
            col("sched_ms"))
          .orderBy(col("host"), col("slot"))
      },
      Some("""WITH d AS (SELECT doc_id, source,
            'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS base
          FROM documents WHERE text IS NOT NULL),
        cand AS (SELECT doc_id, source, source || '.example.com' AS host,
            CASE WHEN doc_id % 5 = 0 THEN base
                 WHEN doc_id % 7 = 0 THEN base || '?a=1&b=2'
                 ELSE base END AS url
          FROM d),
        seen AS (SELECT base AS url FROM d WHERE doc_id < 300 AND source <> 'src19'),
        pos AS (SELECT substr(md5(url), 1, 3) AS p FROM seen
          UNION SELECT substr(md5(url), 4, 3) FROM seen
          UNION SELECT substr(md5(url), 7, 3) FROM seen),
        verdict AS (SELECT doc_id, source, host, url,
            (EXISTS(SELECT 1 FROM pos WHERE pos.p = substr(md5(cand.url), 1, 3))
             AND EXISTS(SELECT 1 FROM pos WHERE pos.p = substr(md5(cand.url), 4, 3))
             AND EXISTS(SELECT 1 FROM pos WHERE pos.p = substr(md5(cand.url), 7, 3)))
              AS maybe_seen
          FROM cand),
        fresh AS (SELECT host, url,
            CAST(500 + 250 * (length(source) - 4) AS INT) AS delay_ms
          FROM verdict WHERE NOT maybe_seen)
        SELECT url, host,
          CAST(row_number() OVER w - 1 AS INT) AS slot, delay_ms,
          CAST((row_number() OVER w - 1) * delay_ms AS BIGINT) AS sched_ms
        FROM fresh WINDOW w AS (PARTITION BY host ORDER BY md5(url), url)
        ORDER BY host, slot""")),

    // E72 — PDF text extraction (operators.PdfText): after HTML, the
    // highest-volume document format a crawl-scale pipeline ingests.
    // REAL parsing — classic xref tables (multi-subsection, /Prev
    // chains), full object/dict/string grammar, nested page-tree walk,
    // /Length framing (direct AND indirect), /FlateDecode via the JDK
    // Inflater, and a content-stream text machine (BT/ET, Tj, TJ with
    // kerning, '/" newline-shows, Td/TD/T*) — PDF 1.5 xref streams and
    // non-Flate filters reject cleanly to None. One fixture PDF per
    // document (bounded build; doc_id < 40), TWO pages each, with the
    // doc_id%5 branch exercising a different structural/token feature
    // per file: plain Tj, flate+indirect-length, TJ-kerning split under
    // a NESTED page tree, hex strings across a SPLIT /Contents array,
    // and escape classes (octal, parens, backslash) with the ' newline
    // operator. The oracle re-derives every page's text from the same
    // token construction. Extraction is one scan-local call per
    // document — embarrassingly parallel over a binaryFile scan.
    "e72_pdf_ingest" -> QueryDef(
      (s, dir) => pdfProject(s,
        s.read.format("binaryFile").load(writePdfFixture(s, dir)))
        .orderBy(col("fname"), col("page")),
      Some(pdfOracleSql)),

    // E72b — MODERN PDF (1.5+) ingest: the same extraction over the
    // layout current producers actually emit — cross-reference STREAMS
    // (binary /W-framed entries) with every non-stream object packed
    // into a compressed /ObjStm object stream, alternating per file
    // between plain and PNG-Up-predicted xref data (doc_id%2). A reader
    // that only handles classic xref tables gets NOTHING from these
    // files, which is exactly the real-corpus failure mode this closes.
    // Same per-file scan-local shape as e72; the oracle re-derives both
    // pages' text from token construction.
    "e72b_pdf_modern" -> QueryDef(
      (s, dir) => {
        import graft.operators.PdfText
        val pdfDir = s"$scratch/pdf15_${new java.io.File(dir).getName}"
        val fd = new java.io.File(pdfDir)
        if (fd.exists()) fd.listFiles().foreach(_.delete())
        fd.mkdirs()
        def bt(ops: String): Array[Byte] =
          s"BT /F1 12 Tf 72 720 Td $ops ET"
            .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        t(s, dir, "documents")
          .filter(col("text").isNotNull &&
            col("doc_id") >= 40 && col("doc_id") < 80)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 14)
          .collect().foreach { r =>
            val id = r.getLong(0)
            val toks = r.getSeq[String](1)
            val j1 = toks.slice(0, 8).mkString(" ")
            val l1 = toks.slice(8, 11).mkString(" ")
            val l2 = toks.slice(11, 14).mkString(" ")
            val bytes = PdfText.makePdf15(Seq(
              Seq(bt(s"(${PdfText.esc(j1)}) Tj")),
              Seq(bt(s"(${PdfText.esc(l1)}) Tj 0 -14 Td (${PdfText.esc(l2)}) Tj"))),
              predictor = id % 2 == 1)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(f"$pdfDir/m$id%04d.pdf"), bytes)
          }
        pdfProject(s, s.read.format("binaryFile").load(pdfDir))
          .orderBy(col("fname"), col("page"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents
          WHERE text IS NOT NULL AND doc_id >= 40 AND doc_id < 80),
        f AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 14),
        j AS (SELECT doc_id,
            array_to_string(toks[1:8], ' ') AS j1,
            array_to_string(toks[9:11], ' ') AS l1,
            array_to_string(toks[12:14], ' ') AS l2
          FROM f),
        pg AS (
          SELECT doc_id, 0 AS page, j1 AS text FROM j
          UNION ALL SELECT doc_id, 1, l1 || chr(10) || l2 FROM j)
        SELECT 'm' || lpad(CAST(doc_id AS VARCHAR), 4, '0') || '.pdf' AS fname,
          CAST(page AS INT) AS page, text
        FROM pg ORDER BY fname, page""")),

    // E72c — NON-LATIN PDF text (VERDICT r9 item 4): the three
    // mechanisms covering most real non-latin PDFs, each planted by the
    // in-test writer and round-tripped through the real extractor —
    //  m=0: /Encoding /Differences glyph-name re-encoding (uniXXXX
    //       names mapping bytes 192.. to Cyrillic А..Я), unmapped codes
    //       falling back latin-1 in the SAME string ("w " prefix);
    //  m=1: a 1-byte /ToUnicode CMap (bfrange A0..B7 → Greek α..),
    //       again with latin-1 fallback codes mixed in;
    //  m=2: an Identity-H COMPOSITE font — 2-byte codes through a
    //       /ToUnicode bfrange into the CJK Unified block (the layout
    //       every CJK PDF producer emits);
    // and on every page 2 a BOM-prefixed UTF-16BE hex string shown in
    // the unmapped default font (the ISO 32000 §7.9.2.2 text-string
    // rule). The oracle re-derives every character from doc_id
    // arithmetic (chr() codepoint construction), so a mapping that
    // lands one glyph off fails the hash. Same scan-local per-file
    // shape as e72; the never-throws envelope holds (PdfTextSpec fuzz).
    "e72c_pdf_nonlatin" -> QueryDef(
      (s, dir) => {
        import graft.operators.PdfText
        val pdfDir = s"$scratch/pdfnl_${new java.io.File(dir).getName}"
        val fd = new java.io.File(pdfDir)
        if (fd.exists()) fd.listFiles().foreach(_.delete())
        fd.mkdirs()
        val A = java.nio.charset.StandardCharsets.ISO_8859_1
        val diffNames = "192 " + (0 until 32)
          .map(j => f"/uni${0x410 + j}%04X").mkString(" ")
        val cmapGreek =
          """/CIDInit /ProcSet findresource begin
            |12 dict begin
            |begincmap
            |1 begincodespacerange
            |<00> <FF>
            |endcodespacerange
            |1 beginbfrange
            |<A0> <B7> <03B1>
            |endbfrange
            |endcmap
            |CMapName currentdict /CMap defineresource pop
            |end
            |end""".stripMargin
        val cmapCjk =
          """/CIDInit /ProcSet findresource begin
            |12 dict begin
            |begincmap
            |1 begincodespacerange
            |<0000> <FFFF>
            |endcodespacerange
            |1 beginbfrange
            |<0001> <0100> <4E00>
            |endbfrange
            |endcmap
            |end
            |end""".stripMargin
        t(s, dir, "documents")
          .filter(col("text").isNotNull &&
            col("doc_id") >= 120 && col("doc_id") < 160)
          .select(col("doc_id")).collect().foreach { r =>
            val id = r.getLong(0)
            val m = (id % 3).toInt
            val k = (id % 16).toInt
            val (font, page1) = m match {
              case 0 =>
                val bytes = (0 until 6).map(i => (192 + (k + i) % 32).toChar).mkString
                (PdfText.DiffFont("G1", diffNames),
                  s"BT /G1 12 Tf 72 720 Td (w $bytes) Tj ET")
              case 1 =>
                val bytes = (0 until 6).map(i => (0xA0 + (k + i) % 24).toChar).mkString
                (PdfText.ToUniFont("G1", cmapGreek, cid = false),
                  s"BT /G1 12 Tf 72 720 Td (w $bytes) Tj ET")
              case _ =>
                val hex = (0 until 6).map(i => f"${(k + i) % 256 + 1}%04X").mkString
                (PdfText.ToUniFont("G1", cmapCjk, cid = true),
                  s"BT /G1 12 Tf 72 720 Td <$hex> Tj ET")
            }
            val page2 = "BT /F1 12 Tf 72 720 Td (doc) Tj 0 -14 Td " +
              f"<FEFF${0x410 + k % 32}%04X${0x430 + k % 32}%04X> Tj ET"
            val bytes = PdfText.makePdf(
              Seq(Seq(page1.getBytes(A)), Seq(page2.getBytes(A))),
              fonts = Seq(font))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(f"$pdfDir/n$id%04d.pdf"), bytes)
          }
        pdfProject(s, s.read.format("binaryFile").load(pdfDir))
          .orderBy(col("fname"), col("page"))
      },
      Some("""WITH d AS (SELECT doc_id, CAST(doc_id % 3 AS INT) AS m,
            CAST(doc_id % 16 AS INT) AS k
          FROM documents
          WHERE text IS NOT NULL AND doc_id >= 120 AND doc_id < 160),
        p1 AS (SELECT doc_id,
            CASE m
              WHEN 0 THEN 'w ' || array_to_string(list_transform(
                generate_series(0, 5), i -> chr(CAST(1040 + (k + i) % 32 AS INT))), '')
              WHEN 1 THEN 'w ' || array_to_string(list_transform(
                generate_series(0, 5), i -> chr(CAST(945 + (k + i) % 24 AS INT))), '')
              ELSE array_to_string(list_transform(
                generate_series(0, 5), i -> chr(CAST(19968 + (k + i) % 256 AS INT))), '')
            END AS text
          FROM d),
        p2 AS (SELECT doc_id,
            'doc' || chr(10) || chr(CAST(1040 + k % 32 AS INT)) || chr(CAST(1072 + k % 32 AS INT)) AS text
          FROM d),
        pg AS (SELECT doc_id, 0 AS page, text FROM p1
          UNION ALL SELECT doc_id, 1, text FROM p2)
        SELECT 'n' || lpad(CAST(doc_id AS VARCHAR), 4, '0') || '.pdf' AS fname,
          CAST(page AS INT) AS page, text
        FROM pg ORDER BY fname, page""")),

    // E72d — PDF stream-FILTER breadth (r9 missing-list item 5): the
    // remaining ISO 32000 §7.4 filters real content streams arrive
    // under beyond FlateDecode — LZWDecode (the TIFF-variant LZW with
    // the EarlyChange off-by-one, §7.4.4; the m=2 docs carry a 400-char
    // varied body so the code stream CROSSES the 9→10-bit width
    // boundary, the bug site in most LZW implementations),
    // ASCIIHexDecode, ASCII85Decode (z-groups, partial trailing group,
    // ~> EOD), and a two-stage /Filter ARRAY [ASCII85 Flate] applied in
    // spec order. Each doc's filter is doc_id%6 by construction; the
    // page text is pure doc_id arithmetic so the DuckDB oracle
    // re-derives every character without touching the PDFs — a decoder
    // that corrupts one byte anywhere breaks that row's hash. In-test
    // encoders (lzwEncode/ascii85Encode/asciiHexEncode) drive the
    // decoders, the house fixture discipline. Scan-local per file, zero
    // shuffle; unsupported filters still reject cleanly (never-throws
    // envelope pinned in PdfTextSpec).
    "e72d_pdf_filters" -> QueryDef(
      (s, dir) => {
        import graft.operators.PdfText
        val pdfDir = s"$scratch/pdfflt_${new java.io.File(dir).getName}"
        val fd = new java.io.File(pdfDir)
        if (fd.exists()) fd.listFiles().foreach(_.delete())
        fd.mkdirs()
        val A = java.nio.charset.StandardCharsets.ISO_8859_1
        t(s, dir, "documents")
          .filter(col("text").isNotNull &&
            col("doc_id") >= 160 && col("doc_id") < 200)
          .select(col("doc_id")).collect().foreach { r =>
            val id = r.getLong(0)
            val m = (id % 6).toInt
            val len = if (m == 2) 400 else 16
            val body = (0 until len)
              .map(i => ('a' + (id * 7 + i.toLong * i) % 26).toChar).mkString
            val filters = m match {
              case 0 => Nil
              case 1 => Seq("FlateDecode")
              case 2 => Seq("LZWDecode")
              case 3 => Seq("ASCIIHexDecode")
              case 4 => Seq("ASCII85Decode")
              case _ => Seq("ASCII85Decode", "FlateDecode")
            }
            val page = s"BT /F1 12 Tf 72 720 Td (${PdfText.esc(body)}) Tj ET"
            val bytes = PdfText.makePdf(Seq(Seq(page.getBytes(A))),
              contentFilter = filters)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(f"$pdfDir/f$id%04d.pdf"), bytes)
          }
        pdfProject(s, s.read.format("binaryFile").load(pdfDir))
          .orderBy(col("fname"), col("page"))
      },
      Some("""WITH d AS (SELECT doc_id, CAST(doc_id % 6 AS INT) AS m
          FROM documents
          WHERE text IS NOT NULL AND doc_id >= 160 AND doc_id < 200)
        SELECT 'f' || lpad(CAST(doc_id AS VARCHAR), 4, '0') || '.pdf' AS fname,
          0 AS page,
          array_to_string(list_transform(
            generate_series(0, CASE WHEN m = 2 THEN 399 ELSE 15 END),
            i -> chr(CAST(97 + (doc_id * 7 + i * i) % 26 AS INT))), '') AS text
        FROM d ORDER BY fname""")),

    // E72E — ENCRYPTED PDF text (r10): the ISO 32000-1 §7.6 standard
    // security handler with the EMPTY user password — the dominant
    // encrypted form in a real crawl (owner-restricted but readable).
    // doc_id%5 rotates: plain control, RC4 /V 2 /R 3, AES-128
    // /V 4 /R 4 /AESV2, AES composed UNDER FlateDecode (decrypt happens
    // before the filter chain — ordering is the thing this class
    // pins), and a genuinely USER-password-protected file that must
    // contribute ZERO rows — a reader that "opens" it anyway (or
    // mis-rejects a readable class) shifts the row set and goes red.
    // The oracle re-derives every surviving page's text from doc_id
    // arithmetic and excludes the m=4 class by construction; per-file
    // parallel, zero shuffle, scan-local decrypt like every decoder.
    "e72e_pdf_encrypted" -> QueryDef(
      (s, dir) => {
        import graft.operators.PdfText
        val pdfDir = s"$scratch/pdfenc_${new java.io.File(dir).getName}"
        val fd = new java.io.File(pdfDir)
        if (fd.exists()) fd.listFiles().foreach(_.delete())
        fd.mkdirs()
        val A = java.nio.charset.StandardCharsets.ISO_8859_1
        t(s, dir, "documents")
          .filter(col("text").isNotNull &&
            col("doc_id") >= 200 && col("doc_id") < 245)
          .select(col("doc_id")).collect().foreach { r =>
            val id = r.getLong(0)
            val m = (id % 5).toInt
            val body = (0 until 20)
              .map(i => ('a' + (id * 11 + i.toLong * 3) % 26).toChar).mkString
            val page = s"BT /F1 12 Tf 72 720 Td (${PdfText.esc(body)}) Tj ET"
            val enc = m match {
              case 0 => None
              case 1 => Some(PdfText.EncSpec(s"owner-$id"))
              case 2 => Some(PdfText.EncSpec(s"owner-$id", aes = true))
              case 3 => Some(PdfText.EncSpec(s"owner-$id", aes = true))
              case _ => Some(PdfText.EncSpec(s"owner-$id", userPw = s"user-$id"))
            }
            val bytes = PdfText.makePdf(Seq(Seq(page.getBytes(A))),
              flate = m == 3, encrypt = enc)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(f"$pdfDir/e$id%04d.pdf"), bytes)
          }
        pdfProject(s, s.read.format("binaryFile").load(pdfDir))
          .orderBy(col("fname"), col("page"))
      },
      Some("""WITH d AS (SELECT doc_id FROM documents
          WHERE text IS NOT NULL AND doc_id >= 200 AND doc_id < 245
            AND doc_id % 5 <> 4)
        SELECT 'e' || lpad(CAST(doc_id AS VARCHAR), 4, '0') || '.pdf' AS fname,
          0 AS page,
          array_to_string(list_transform(generate_series(0, 19),
            i -> chr(CAST(97 + (doc_id * 11 + i * 3) % 26 AS INT))), '') AS text
        FROM d ORDER BY fname""")),

    // E72G — AES-256 PDF text (/V 5, VERDICT r10 item 2): the modern
    // producer default that e72e's V≤4 envelope rejected. doc_id%5
    // rotates: plain control, /V 5 /R 6 /AESV3 (ISO 32000-2 Algorithm
    // 2.A/2.B — SHA-2 family password hash, file key unwrapped from
    // /UE, /Perms validated under it), the pre-2.0 /R 5 form (plain
    // SHA-256 hash, same key wrap), R 6 composed UNDER FlateDecode
    // (decrypt before the filter chain), and an R 6 file with a real
    // USER password that must contribute ZERO rows. The fixture writer
    // runs the reverse algorithms (deterministic salts/file key); the
    // oracle re-derives surviving page text from doc_id arithmetic and
    // excludes the m=4 class by construction. Per-file parallel, zero
    // shuffle, scan-local decrypt.
    "e72g_pdf_aes256" -> QueryDef(
      (s, dir) => {
        import graft.operators.PdfText
        val pdfDir = s"$scratch/pdfenc5_${new java.io.File(dir).getName}"
        val fd = new java.io.File(pdfDir)
        if (fd.exists()) fd.listFiles().foreach(_.delete())
        fd.mkdirs()
        val A = java.nio.charset.StandardCharsets.ISO_8859_1
        t(s, dir, "documents")
          .filter(col("text").isNotNull &&
            col("doc_id") >= 300 && col("doc_id") < 345)
          .select(col("doc_id")).collect().foreach { r =>
            val id = r.getLong(0)
            val m = (id % 5).toInt
            val body = (0 until 20)
              .map(i => ('a' + (id * 13 + i.toLong * 7) % 26).toChar).mkString
            val page = s"BT /F1 12 Tf 72 720 Td (${PdfText.esc(body)}) Tj ET"
            val enc = m match {
              case 0 => None
              case 1 => Some(PdfText.EncSpec(s"owner-$id", v5 = true))
              case 2 => Some(PdfText.EncSpec(s"owner-$id", v5 = true, r5 = true))
              case 3 => Some(PdfText.EncSpec(s"owner-$id", v5 = true))
              case _ => Some(PdfText.EncSpec(s"owner-$id", userPw = s"user-$id", v5 = true))
            }
            val bytes = PdfText.makePdf(Seq(Seq(page.getBytes(A))),
              flate = m == 3, encrypt = enc)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(f"$pdfDir/v$id%04d.pdf"), bytes)
          }
        pdfProject(s, s.read.format("binaryFile").load(pdfDir))
          .orderBy(col("fname"), col("page"))
      },
      Some("""WITH d AS (SELECT doc_id FROM documents
          WHERE text IS NOT NULL AND doc_id >= 300 AND doc_id < 345
            AND doc_id % 5 <> 4)
        SELECT 'v' || lpad(CAST(doc_id AS VARCHAR), 4, '0') || '.pdf' AS fname,
          0 AS page,
          array_to_string(list_transform(generate_series(0, 19),
            i -> chr(CAST(97 + (doc_id * 13 + i * 7) % 26 AS INT))), '') AS text
        FROM d ORDER BY fname""")),

    // E72F — PDF EMBEDDED-IMAGE extraction (r10): the figure-extraction
    // stage of a multimodal corpus pipeline — /Image XObjects whose
    // final filter is /DCTDecode come out as undecoded JPEGs and feed
    // the SAME in-repo decoder the e12 family drives (jpegGraySums),
    // closing the PdfText→Multimodal seam. doc_id%3 rotates placement:
    // image on page 0 of a 1-page doc, image on PAGE 1 of a 2-page doc
    // (page indexing pinned), and a page carrying a Flate-raster decoy
    // XObject (Im0) that extraction must SKIP while still finding the
    // JPEG beside it (Im1). The oracle hex-walks the PDF bytes
    // themselves: the JPEG is located by its SOI+JFIF signature in the
    // hex dump — a false anchor is impossible because every byte before
    // the image is 7-bit ASCII by construction and FF-bytes inside JPEG
    // entropy data are always stuffed — then the e12l DC-chain walk
    // reads the SAME entropy bytes Spark's decoder does, shifted by the
    // anchor. Per-file parallel, zero shuffle, scan-local decode.
    "e72f_pdf_images" -> QueryDef(
      (s, dir) => {
        val pdfDir = writePdfImageFixture(s, dir)
        pdfImageProject(s, s.read.format("binaryFile").load(pdfDir))
          .orderBy(col("fname"))
      },
      Some(pdfImageOracleSql)),

    // E73 — RSS/Atom FEED ingest: the other discovery input a frontier
    // polls besides sitemaps (e57) — new-content notification. One
    // directory mixes RSS 2.0 files (<item> children with <link>
    // element + RFC-822-style pubDate WITHOUT the optional weekday) and
    // Atom files (<entry> children with <link href=""/> attribute +
    // ISO-8601 <updated>), plus an HTML decoy that must yield nothing
    // (root-element discrimination, the e57 envelope rule). Items are
    // extracted SCOPED to their <item>/<entry> block — the planted
    // channel-level <link> (which every real RSS feed carries) must NOT
    // leak in as an item. Titles XML-unescape; URLs url_normalize (the
    // doc_id%3 branch plants a shouting-case host + default port);
    // dates parse per format on the Spark side while the ORACLE builds
    // the same dates numerically from construction — so a parse that
    // lands on the wrong day fails the hash. Per-file parallel, zero
    // shuffle.
    "e73_feed_ingest" -> QueryDef(
      (s, dir) => {
        val feedDir = s"$scratch/feeds_${new java.io.File(dir).getName}"
        val fd = new java.io.File(feedDir)
        if (fd.exists()) fd.listFiles().foreach(_.delete())
        fd.mkdirs()
        val mon = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
        val rows = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), col("source")).collect()
          .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
        def urlOf(id: Long, src: String): String =
          if (id % 3 == 0) s"HTTP://$src.EXAMPLE.COM:80/p/$id"
          else s"http://$src.example.com/p/$id"
        (0 until 4).foreach { b =>
          val items = rows.filter(_._1 % 8 == b).map { case (id, src) =>
            val d = 1 + (id % 28)
            val m = mon((id % 12).toInt)
            s"<item><title>Doc $id &amp; more</title>" +
              s"<link>${urlOf(id, src)}</link>" +
              f"<pubDate>$d%02d $m 2026 10:30:00 GMT</pubDate></item>"
          }.mkString
          java.nio.file.Files.write(java.nio.file.Paths.get(s"$feedDir/rss$b.xml"),
            ("<?xml version=\"1.0\"?><rss version=\"2.0\"><channel>" +
              "<title>chan</title><link>https://decoy.example.com/</link>" +
              items + "</channel></rss>").getBytes("UTF-8"))
        }
        (4 until 8).foreach { b =>
          val entries = rows.filter(_._1 % 8 == b).map { case (id, src) =>
            val d = 1 + (id % 28)
            val m = 1 + (id % 12)
            s"<entry><title>Doc $id &amp; more</title>" +
              s"""<link href="${urlOf(id, src)}"/>""" +
              f"<updated>2026-$m%02d-$d%02dT10:30:00Z</updated></entry>"
          }.mkString
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$feedDir/atom${b - 4}.xml"),
            ("""<feed xmlns="http://www.w3.org/2005/Atom"><title>f</title>""" +
              entries + "</feed>").getBytes("UTF-8"))
        }
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$feedDir/page.html"),
          "<html><body><item><link>not a feed</link></item></body></html>"
            .getBytes("UTF-8"))
        val raw = s.read.format("binaryFile").load(feedDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            col("content").cast("string").as("xml"))
        val rss = raw.filter(col("xml").contains("<rss"))
          .select(col("fname"), posexplode(regexp_extract_all(col("xml"),
            lit("(?s)<item>(.*?)</item>"), lit(1))))
          .select(col("fname"), col("pos"), lit("rss").as("kind"),
            col("col").as("item"))
          .withColumn("url0", regexp_extract(col("item"),
            "<link>([^<]+)</link>", 1))
          .withColumn("published", to_date(to_timestamp(
            regexp_extract(col("item"), "<pubDate>([^<]+)</pubDate>", 1),
            "dd MMM yyyy HH:mm:ss 'GMT'")))
        val atom = raw.filter(col("xml").contains("<feed"))
          .select(col("fname"), posexplode(regexp_extract_all(col("xml"),
            lit("(?s)<entry>(.*?)</entry>"), lit(1))))
          .select(col("fname"), col("pos"), lit("atom").as("kind"),
            col("col").as("item"))
          .withColumn("url0", regexp_extract(col("item"),
            "<link href=\"([^\"]+)\"", 1))
          .withColumn("published", to_date(substring(regexp_extract(col("item"),
            "<updated>([^<]+)</updated>", 1), 1, 10)))
        rss.unionByName(atom)
          .select(col("fname"), col("pos"), col("kind"),
            regexp_replace(regexp_extract(col("item"),
              "<title>(.*?)</title>", 1), "&amp;", "&").as("title"),
            expr("url_normalize(url0)").as("url"),
            col("published"))
          .orderBy(col("fname"), col("pos"))
      },
      Some("""WITH d AS (SELECT doc_id, source, CAST(doc_id % 8 AS INT) AS b
          FROM documents WHERE text IS NOT NULL),
        x AS (SELECT doc_id, b,
            CASE WHEN b < 4 THEN 'rss' ELSE 'atom' END AS kind,
            CASE WHEN b < 4 THEN 'rss' || CAST(b AS VARCHAR) || '.xml'
              ELSE 'atom' || CAST(b - 4 AS VARCHAR) || '.xml' END AS fname,
            'Doc ' || CAST(doc_id AS VARCHAR) || ' & more' AS title,
            'http://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR)
              AS url,
            CAST(('2026-' || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0')
              || '-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')) AS DATE)
              AS published
          FROM d)
        SELECT fname,
          CAST(row_number() OVER (PARTITION BY b ORDER BY doc_id) - 1 AS INT)
            AS pos,
          kind, title, url, published
        FROM x ORDER BY fname, pos""")),

    // E74 — MIME routing by magic bytes (functions.MimeSniff): the
    // dispatch step a pipeline runs on every fetched payload BEFORE
    // choosing a decoder — Content-Type headers lie constantly, the
    // bytes do not. Each doc_id%10 branch synthesizes one format's
    // magic envelope (PDF, JPEG SOI, WARC version line, gzip member
    // head, whitespace-led shouting-case DOCTYPE, XML declaration, RIFF
    // + WAVE, PNG signature, plain UTF-8 text, and invalid-UTF-8 binary
    // junk that must fall through BOTH the markup and text rungs to
    // octet-stream); the oracle states each branch's label from
    // construction. The label set matches the engine's own decoders, so
    // the output doubles as a routing column. Scan-local codegen, zero
    // shuffle. r12 widens the rotation to %14 with the new decoder
    // family (FLAC, Ogg, 7z, SQLite); MimeSniffSpec covers the rest
    // (GIF/BMP/MP4/tar/zip/UTF-16) plus the never-throw envelope.
    "e74_mime_route" -> QueryDef(
      (s, dir) => {
        val m = col("m")
        t(s, dir, "documents").filter(col("text").isNotNull)
          .withColumn("m", (col("doc_id") % 14).cast("int"))
          .withColumn("bin", concat(
            when(m === 0, encode(lit("%PDF-1.4 "), "UTF-8"))
              .when(m === 1, unhex(lit("FFD8FFE0")))
              .when(m === 2, encode(lit("WARC/1.0\r\nWARC-Type: response\r\n"), "UTF-8"))
              .when(m === 3, unhex(lit("1F8B0800")))
              .when(m === 4, encode(lit("  <!DOCTYPE HTML><HTML><body>"), "UTF-8"))
              .when(m === 5, encode(lit("<?xml version=\"1.0\"?><urlset>"), "UTF-8"))
              .when(m === 6, concat(encode(lit("RIFF"), "UTF-8"),
                unhex(lit("24000000")), encode(lit("WAVEfmt "), "UTF-8")))
              .when(m === 7, unhex(lit("89504E470D0A1A0A")))
              .when(m === 8, encode(lit(""), "UTF-8"))
              .when(m === 9, unhex(lit("009396FE")))
              // r12 decoder family joins the rotation
              .when(m === 10, encode(lit("fLaC"), "UTF-8"))
              .when(m === 11, encode(lit("OggS"), "UTF-8"))
              .when(m === 12, unhex(lit("377ABCAF271C")))
              .otherwise(concat(encode(lit("SQLite format 3"), "UTF-8"),
                unhex(lit("00")))),
            encode(col("text"), "UTF-8")))
          .select(col("doc_id"), expr("detect_mime(bin)").as("mime"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
          CASE CAST(doc_id % 14 AS INT)
            WHEN 0 THEN 'application/pdf'
            WHEN 1 THEN 'image/jpeg'
            WHEN 2 THEN 'application/warc'
            WHEN 3 THEN 'application/gzip'
            WHEN 4 THEN 'text/html'
            WHEN 5 THEN 'text/xml'
            WHEN 6 THEN 'audio/wav'
            WHEN 7 THEN 'image/png'
            WHEN 8 THEN 'text/plain'
            WHEN 9 THEN 'application/octet-stream'
            WHEN 10 THEN 'audio/flac'
            WHEN 11 THEN 'audio/ogg'
            WHEN 12 THEN 'application/x-7z-compressed'
            ELSE 'application/vnd.sqlite3' END AS mime
        FROM documents WHERE text IS NOT NULL ORDER BY doc_id""")),

    // E75 — MIXED-FORMAT ingest pipeline: the composition today's new
    // pieces exist for — one WARC archive whose records carry FOUR
    // different payload formats (HTML, real PDF bytes, plain UTF-8,
    // windows-1252 bytes), walked with BINARY payloads (the string
    // reader would corrupt the PDF), routed per record by detect_mime,
    // and extracted by the matching decoder: html_text + html_meta for
    // HTML, operators.PdfText for PDF, the e44c sniff cascade for
    // everything text-shaped (the cp1252 branch deliberately lands in
    // the octet-stream fallback — no magic, invalid UTF-8 — and the
    // sniff STILL recovers its text: a salvage path, not a dead end).
    // The oracle re-derives every record's mime label, title and
    // extracted text from construction. Scan-local per record; zero
    // shuffle at any archive size.
    // E93 — ZIP ARCHIVE ingest (r10): the container data drops and
    // scraped bundles actually arrive in, which detect_mime (e74) could
    // already label but nothing could open. operators.ZipArchive is
    // central-directory-driven per APPNOTE: EOCD located backward
    // through the comment region with an exact-EOF self-consistency
    // check, member data resolved through each entry's LOCAL header
    // (whose lengths may legally differ from the central copy), stored
    // + raw-deflate decode, and the CRC-32 of every member VERIFIED —
    // corruption rejects the archive, never yields wrong bytes. The
    // fixture packs 8 members per archive with stored/deflated
    // alternation and nested member paths; the oracle re-derives every
    // member's name, method, size and full text from doc_id
    // construction. Per-file scan-local, zero shuffle.
    "e93_zip_ingest" -> QueryDef(
      (s, dir) => {
        val zDir = writeZipFixture(s, dir)
        zipProject(s.read.format("binaryFile").load(zDir))
          .orderBy(col("fname"), col("member"))
      },
      Some(zipOracleSql)),

    // D27 — ZIP ingest as a STREAM (e93's deployment shape: archive
    // drops landing in a directory, members extracted per trigger).
    // Archive decode is within-file — the stream is a pure append map,
    // slicing-independent, sharing e93's fixture and oracle verbatim
    // (the d22/d24/d26 pattern).
    // E97 — WIKIPEDIA-DUMP ingest (r10): the single most-used clean
    // corpus source. MediaWiki export XML parsed with the e73 scoped-
    // block discipline (pages extracted non-greedily, fields read
    // INSIDE their block), the two standard exclusions applied —
    // non-article namespaces (ns=10 templates planted) and redirects —
    // and the text node XML-UNESCAPED (dumps escape &<>; decode order
    // &lt;/&gt; before &amp; so double-encoding cannot smuggle markup).
    // Wikitext then cleans through the published rule chain: {{...}}
    // templates out, <ref>...</ref> out, [[target|label]] → label,
    // [[target]] → target, bold/italic quote runs stripped, == X ==
    // headings → X. The ORACLE builds the expected CLEANED text
    // directly from token construction — an independent closed form,
    // so every stage (escape round-trip, page scoping, filters, each
    // cleanup rule) must compose correctly or rows diverge. Per-file
    // parallel parse, scan-local, zero shuffle.
    "e97_wiki_dump" -> QueryDef(
      (s, dir) => {
        val wDir = writeWikiFixture(s, dir, bz2 = false)
        wikiProject(s.read.format("binaryFile").load(wDir)
          .select(col("content").cast("string").as("xml")))
          .orderBy(col("page_id"))
      },
      Some(wikiOracleSql)),

    // E97B — the SAME dump pipeline through .xml.bz2 (r10): Wikipedia
    // publishes dumps bzip2-compressed, and the JDK has no codec —
    // operators.Bzip2 is a from-scratch decoder (MSB-first bitstream,
    // multi-group Huffman with selectors, RLE2/MTF, inverse BWT, RLE1,
    // both bzip2 CRC layers verified) proven BIDIRECTIONALLY
    // interoperable with real libbz2 (it decodes libbz2's multi-table
    // streams; libbz2 decodes its fixture output — Bzip2Spec + the
    // recorded interop check). The fixture here compresses the e97 XML
    // with the in-repo encoder; extraction shares e97's projection and
    // oracle VERBATIM, so a single wrong decoded byte anywhere in the
    // Huffman/BWT/RLE stack shifts a page row and goes red.
    "e97b_wiki_bz2" -> QueryDef(
      (s, dir) => {
        val wDir = writeWikiFixture(s, dir, bz2 = true)
        wikiProject(s.read.format("binaryFile").load(wDir)
          .select(bz2ToXml(col("content")).as("xml")))
          .orderBy(col("page_id"))
      },
      Some(wikiOracleSql)),

    // E98 — ZSTD-SHARD ingest (r11): the container modern bulk corpora
    // actually ship (RedPajama / Dolma / OSCAR publish zstd-framed
    // JSONL shards). operators.ZstdShards walks RFC 8878 concatenated
    // frames via libzstd's own frame-boundary arithmetic (zstd-jni,
    // already on every Spark executor's classpath — the JDK-Inflater
    // precedent), skips skippable frames, enforces exact-consume + a
    // streaming decompressed-bytes cap (zstd's ~2^17:1 ratio makes a
    // KB-size bomb declare TBs), and only then splits lines — the
    // fixture cuts frames MID-LINE so a reader that treats frames as
    // record boundaries diverges. The oracle re-derives every line
    // from doc_id construction without decompressing anything.
    // Per-file scan-local, zero shuffle.
    // E111 — LZ4-frame shard ingest (r12): the fourth leg of the
    // compressed-shard family — .jsonl.lz4 shards appear in dataset
    // mirrors and fast-path log drops trading zstd's ratio for lz4's
    // speed. Like the zstd leg, the CODEC is runtime-carried
    // (lz4-java, Spark's own block codec) while the FRAME DISCIPLINE
    // is implemented here from the public spec and enforced: header
    // XXH32 (HC), per-block XXH32, content XXH32 and declared content
    // size ALL verified; multi-block LINKED frames reject (with one
    // block the window cannot cross a boundary; with more, a block
    // decompressor silently corrupts); skippable frames skip; files
    // are frame concatenations consumed exactly; lines split only
    // AFTER frames concatenate (fixture cuts frames mid-line).
    // Lz4ShardsSpec proves the walk against BOTH references: the
    // system lz4 CLI bidirectionally, and lz4-java's own frame
    // streams. Per-file scan-local, zero shuffle.
    "e111_lz4_jsonl" -> QueryDef(
      (s, dir) => {
        val lDir = writeLz4Fixture(s, dir)
        lz4Project(s.read.format("binaryFile").load(lDir))
          .orderBy(col("fname"), col("line_no"))
      },
      Some(lz4OracleSql)),

    // E112 — UNIVERSAL mixed-drop ingest (r12): the integration the
    // format decoders exist for. One directory holds all TWELVE
    // content-routable r12 families side by side (recordings,
    // databases, interchange files, scans, archives, shards);
    // operators.UniversalIngest routes every file by its BYTES
    // (detect_mime — extensions and headers lie) and hands it to the
    // matching strict decoder, emitting the per-file unit count each
    // decoder defines (samples / rows / records / pages / frames /
    // packets / blocks / members / lines). A mislabeled or corrupt
    // file contributes zero rows, never a guess. The oracle is the
    // UNION of the nine families' construction formulas — routing and
    // every decoder must compose exactly or a row diverges. Per-file
    // scan-local sniff + decode, zero shuffle.
    // E113 — WebP-lossless (VP8L) decode (r12): the web's modern image
    // format; crawl corpora are increasingly WebP and the lossless
    // profile carries screenshots/diagrams/UI assets.
    // operators.WebpL implements the public VP8L bitstream spec from
    // scratch: LSB-first bitstream, canonical prefix codes (simple AND
    // code-length-coded with repeats and Kraft-equality completeness
    // enforced), color cache, meta prefix groups, LZ77 with both the
    // 120-entry 2D neighbor map and direct distances, and all four
    // transforms inverted in reverse stream order (subtract-green, all
    // 14 predictors with hand-golden-pinned tie-break/truncation
    // arithmetic, the signed color transform, delta-coded palettes
    // with sub-byte bundling). Lossy VP8 routes to operators.Vp8 (r15,
    // e113b); animations route to WebpAnim (e117) in the stills path
    // rejecting loudly.
    // Per-file scan-local decode, zero shuffle.
    "e113_webp" -> QueryDef(
      (s, dir) => {
        val wDir = writeWebpFixture(s, dir)
        webpProject(s.read.format("binaryFile").load(wDir))
          .orderBy(col("doc_id"))
      },
      Some(webpOracleSql)),

    // E113B — LOSSY WebP (VP8 key-frame) decode (r15): the dominant
    // lossy web format after JPEG; operators.Vp8 implements RFC 6386's
    // intra-frame profile from scratch (bool decoder, segmentation,
    // 1–8 token partitions, coefficient detokenization + dequant,
    // all intra predictors, IDCT/WHT, both loop filters, and the
    // reference-exact fancy upsampler + YUV→RGB kernel). Streams are
    // committed REFERENCE-ENCODER output; expected channel stats were
    // derived from the REFERENCE decoder's RGBA at generation time —
    // Vp8Spec additionally pins the decoder pixel-exact against
    // libwebp on 114 goldens (incl. 12 ALPH alpha members) + a 400-case
    // live sweep. Per-file scan-local decode, zero shuffle.
    "e113b_webp_lossy" -> QueryDef(
      (s, dir) => {
        val wDir = writeVp8LossyFixture("st", "webp_lossy")
        val eng = graft.operators.WebpL.parse(
          s.read.format("binaryFile").load(wDir))
        graft.queries.LlmPipeline.fixtureCheck(
          s, dir, "e113b_webp_lossy", eng, Seq("fname"))
      },
      Some(graft.queries.LlmPipeline.fixtureSql("e113b_webp_lossy",
        Seq("fname", "width", "height", "mean_a", "mean_r", "mean_g",
          "mean_b")))),

    // E117 — ANIMATED WebP frame extraction (r15): animated stickers/
    // memes are a real crawl slice; operators.WebpAnim walks the
    // VP8X/ANIM/ANMF container (public container spec: 24-bit LE
    // geometry with the even-offset /2 rule, durations, dispose/blend
    // flags, reserved-bit enforcement, canvas-bounds checks) and hands
    // each frame's embedded chunks — ALPH+VP8, bare VP8, VP8L — to the
    // reference-PINNED still decoders via a canonical re-wrap. Canvas
    // COMPOSITING is memo'd out of scope (no reference on this runtime;
    // see the operator header). Oracle: geometry/timing/flags re-derived
    // from construction, pixels joined to the committed reference-
    // derived stats parquet by sorted-name rank. Scan-local, zero
    // shuffle.
    // E119 — AVIF/HEIC container ingest (r16, the fired codec trigger:
    // libavif + libheif appeared on this runtime, making goldens
    // generatable for the two formats crawls now serve to modern
    // browsers). operators.Heif walks the ISOBMFF meta tree from
    // scratch — pitm/iinf/iloc (both construction methods)/idat/ipco/
    // ipma/iref — and resolves the HEIF-level semantics: primary-item
    // ispe dims (incl. libheif's `grid` primaries), pixi depth with the
    // grid→dimg-child fallback, auxC+auxl alpha linkage, irot, and the
    // AV1 sequence-header bits via a from-scratch OBU walk. Every row
    // is pinned by the INDEPENDENT fixture: dims/depth/alpha from the
    // reference decoders, container fields from a from-scratch Python
    // ISOBMFF walk (the e02/e113b pattern). Pixel decode is the scoped
    // r17 step (NOTES_r16). Per-file scan-local walk, zero shuffle.
    "e119_avif" -> QueryDef(
      (s, dir) => {
        val aDir = writeAvifHeifFixture("avif_heif")
        graft.queries.LlmPipeline.fixtureCheck(s, dir, "e119_avif",
          heifProject(s.read.format("binaryFile").load(aDir)), Seq("fname"))
      },
      Some(graft.queries.LlmPipeline.fixtureSql("e119_avif",
        Seq("fname", "item_type", "width", "height", "depth", "has_alpha",
          "n_items", "irot", "primary_bytes", "seq_profile",
          "still_picture", "obu_max_w", "obu_max_h", "obu_bitdepth",
          "obu_mono", "obu_sub_x", "obu_sub_y", "px_y_mean", "px_u_mean",
          "px_v_mean", "px_a_mean")))),

    // E118 — ICO/CUR ingest (r16, VERDICT item 4): favicons are
    // ubiquitous in crawl drops; the container is a 16-byte-entry
    // directory over payloads the repo already decodes (PNG streams /
    // BMP-family DIBs with the doubled-height AND-mask rule). Per-entry
    // rows: kind, directory dims (u8 0⇒256), payload-authoritative
    // dims, cursor hotspots, payload format + bit depth, and a full
    // channel-byte mean over each 32bpp DIB's XOR image (real pixel
    // bytes, not header echo). DuckDB re-derives EVERYTHING from its
    // own hex walk of the same files — directory arithmetic, payload
    // sniffing, PNG IHDR / DIB header dims, and the XOR byte sum.
    // Per-file scan-local walk, zero shuffle.
    "e118_ico" -> QueryDef(
      (s, dir) => {
        val icoDir = writeIcoFixture("ico")
        icoProject(s.read.format("binaryFile").load(icoDir))
          .orderBy(col("fname"), col("idx"))
      },
      Some(icoOracleSql)),

    "e117_webp_anim" -> QueryDef(
      (s, dir) => {
        val aDir = writeWebpAnimFixture(s, dir, "webp_anim")
        webpAnimProject(s.read.format("binaryFile").load(aDir))
          .orderBy(col("fname"), col("frame"))
      },
      Some(webpAnimOracleSql)),

    // E29B — image near-dup ACROSS LOSSY RE-ENCODES (r15): the
    // canonical lossy near-dup is the same content re-encoded at a new
    // rate. The committed corpus holds four reference-encoded quality
    // pairs (hamming 0/1/2 over the decoded-pixel aHash), one
    // byte-identical copy and three unpaired distractors; pairs go
    // through the same banded hamming join as e29 (pigeonhole-lossless,
    // never all-pairs). Expected pairs were computed INDEPENDENTLY at
    // generation time: reference-decoded RGBA + a Python aHash + brute
    // force. Decoded lossy pixels are load-bearing for every row.
    "e29b_webp_neardup" -> QueryDef(
      (s, dir) => {
        val wDir = writeVp8LossyFixture("nd", "webp_nd")
        val ah = udf((bytes: Array[Byte]) =>
          graft.operators.Multimodal.imageAHash64(bytes))
        val hashes = s.read.format("binaryFile").load(wDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            ah(col("content")).as("h"))
          .filter(col("h").isNotNull)
        val eng = graft.operators.ImageNearDup
          .pairs(hashes, "fname", "h", maxDist = 3)
          .select(col("id1").as("f1"), col("id2").as("f2"),
            col("hamming").cast("long").as("hamming"))
        graft.queries.LlmPipeline.fixtureCheck(
          s, dir, "e29b_webp_neardup", eng, Seq("f1", "f2"))
      },
      Some(graft.queries.LlmPipeline.fixtureSql("e29b_webp_neardup",
        Seq("f1", "f2", "hamming")))),

    // E114 — mbox/MIME mail ingest (r12): mailing-list archives are a
    // classic pretraining source (kernel lists, Apache archives,
    // Usenet exports, corporate-mail corpora) and ship as mbox files
    // of MIME messages. operators.Mbox implements RFC 4155 + 5322 +
    // 2045/2046 + 2047 from scratch: postmark framing with one-level
    // From-unstuffing, header folding, RFC 2047 encoded words (B and
    // Q, charsets honored, adjacent-word joining), multipart recursion
    // with exact boundary-line matching and preamble/epilogue
    // discard, and STRICT quoted-printable + base64 (the JDK MIME
    // decoder silently skips garbage — exactly the leniency this
    // engine rejects). text/plain parts decode per charset and
    // concatenate; other parts are counted, not guessed at. Per-file
    // scan-local parse, zero shuffle.
    "e114_mbox" -> QueryDef(
      (s, dir) => {
        val mDir = writeMboxFixture(s, dir)
        mboxProject(s.read.format("binaryFile").load(mDir))
          .orderBy(col("fname"), col("msg_idx"))
      },
      Some(mboxOracleSql)),

    // E115 — OpenDocument Text ingest (r12): the open-standard office
    // sibling of e101's DOCX — LibreOffice output, EU and government
    // archives, public-records portals publish .odt. operators.Odt
    // composes the CRC-verifying zip walk (ODF's OCF-style
    // mimetype-first/stored/exact-content discipline checked against
    // the PHYSICAL first local header) with the ODF whitespace model:
    // text:s expands by its count (the element IS the whitespace),
    // text:tab/line-break render, spans strip, entities decode, and
    // office:annotation bodies plus commented-out paragraphs never
    // emit (the tracked-deletion lesson). Per-file scan-local walk,
    // zero shuffle.
    "e115_odt" -> QueryDef(
      (s, dir) => {
        val oDir = writeOdtFixture(s, dir)
        odtProject(s.read.format("binaryFile").load(oDir))
          .orderBy(col("fname"), col("para_idx"))
      },
      Some(odtOracleSql)),

    // E116 — RTF text extraction (r12): the legacy office format
    // legal archives, court-records dumps and decades of institutional
    // documents ship. operators.Rtf implements the public spec's token
    // model from scratch: balanced groups with per-group state
    // (unbalanced files reject — a truncated RTF silently loses
    // trailing text otherwise), control words with their delimiter
    // rules, cp1252 hex escapes, \uN unicode with the \ucN fallback
    // discipline (group-scoped, restored on close), non-text
    // destinations (fonttbl/colortbl/info/pict/...) and the {\*\...}
    // ignorable form skipped entirely, field RESULTS kept while field
    // instructions drop, and \binN raw bytes skipped BLIND — hostile
    // braces inside binary data must not desync the parse. Per-file
    // scan-local parse, zero shuffle.
    "e116_rtf" -> QueryDef(
      (s, dir) => {
        val rDir = writeRtfFixture(s, dir)
        rtfProject(s.read.format("binaryFile").load(rDir))
          .orderBy(col("fname"), col("para_idx"))
      },
      Some(rtfOracleSql)),

    "e112_universal_ingest" -> QueryDef(
      (s, dir) => {
        val mDir = writeMixedDropFixture(s, dir)
        graft.operators.UniversalIngest.parse(
            s.read.format("binaryFile").load(mDir))
          .orderBy(col("fname"))
      },
      Some(mixedDropOracleSql)),

    "e98_zstd_jsonl" -> QueryDef(
      (s, dir) => {
        val zDir = writeZstdFixture(s, dir)
        zstdProject(s.read.format("binaryFile").load(zDir))
          .orderBy(col("fname"), col("line_no"))
      },
      Some(zstdOracleSql)),

    // E98B — GZIP-LINE-SHARD ingest (r11): the third leg of the
    // compressed-shard trio (gz/zst/xz) — `.jsonl.gz` is what WET text
    // dumps and countless legacy corpora ship. The walk is STRICT
    // (WarcGzip.gunzipStrict): unlike the WARC envelope where each
    // record self-validates, a generic text shard has nothing
    // downstream to catch corruption, so every member's CRC32 + ISIZE
    // trailer is verified, reserved flag bits reject, members must
    // consume the file exactly, and the running inflated total is
    // bomb-capped. Members are cut MID-LINE so a members-as-records
    // reader diverges. Per-file scan-local, zero shuffle.
    "e98b_gzip_jsonl" -> QueryDef(
      (s, dir) => {
        val gDir = writeGzipFixture(s, dir)
        gzipLinesProject(s.read.format("binaryFile").load(gDir))
          .orderBy(col("fname"), col("line_no"))
      },
      Some(gzipLinesOracleSql)),

    // E99 — XZ-SHARD ingest (r11): the OTHER compressed container bulk
    // text ships (OPUS parallel corpora, source tarballs in code
    // corpora, academic `.txt.xz` dumps). Unlike zstd the runtime
    // carries no LZMA codec, so operators.Lzma + operators.Xz are a
    // from-scratch spec implementation (range coder, 12-state model,
    // matched literals, rep distances; LZMA2 chunk resets; the full xz
    // container with every CRC verified and all four content-check ids
    // live) — proven BIDIRECTIONALLY against the reference
    // implementation in XzSpec (our decoder reads real xz output at
    // -0/-6/-9e/multi-block/every check; real xz decodes our fixture
    // output byte-exactly). The fixture rotates the check id per shard
    // and forces multi-chunk LZMA2 with cross-chunk matches plus an
    // uncompressed-chunk splice; the oracle re-derives every line from
    // doc_id construction. Per-file scan-local, zero shuffle.
    "e99_xz_jsonl" -> QueryDef(
      (s, dir) => {
        val xDir = writeXzFixture(s, dir)
        xzProject(s.read.format("binaryFile").load(xDir))
          .orderBy(col("fname"), col("line_no"))
      },
      Some(xzOracleSql)),

    // E99C — legacy `.lzma` (LZMA-alone) ingest (r11): the pre-xz
    // framing still found in older dumps. One shard size-declared, one
    // marker-terminated — the in-stream end-marker / unknown-size
    // decode path that size-framed LZMA2 chunks must reject, plus the
    // alone-format's wider props envelope (lc+lp ≤ 4 is an LZMA2-only
    // rule). The format carries NO checksum; framing consistency and
    // the bomb cap still gate. Interop with the reference
    // implementation pinned in XzSpec (`xz --format=lzma`, both
    // directions). Extension-routed through the same Xz.parse.
    "e99c_lzma_jsonl" -> QueryDef(
      (s, dir) => {
        val lDir = writeLzmaFixture(s, dir)
        xzProject(s.read.format("binaryFile").load(lDir))
          .orderBy(col("fname"), col("line_no"))
      },
      Some(lzmaOracleSql)),

    // E100 — EPUB ingest (r11): the container book corpora actually
    // arrive in (Gutenberg, Standard Ebooks, library drops). An EPUB
    // is an OCF zip whose READING ORDER lives in the OPF spine, so
    // operators.Epub composes the CRC-verifying zip walk with
    // scoped-regex OPF/container resolution: mimetype must be the
    // FIRST entry, STORED, with the exact OCF magic content;
    // container.xml names the OPF; every spine idref must resolve
    // through the manifest to an archive member or the whole book
    // rejects (a dangling chapter must not yield silently-shorter
    // text). The fixture stores chapters in REVERSE spine order so
    // the emitted order provably follows the package document, not
    // the container. Text cleanup is the e34 column-algebra strip;
    // the oracle re-creates the final stripped text in closed form.
    // Per-file scan-local, zero shuffle.
    "e100_epub" -> QueryDef(
      (s, dir) => {
        val eDir = writeEpubFixture(s, dir)
        epubProject(s.read.format("binaryFile").load(eDir))
          .orderBy(col("fname"), col("spine_idx"))
      },
      Some(epubOracleSql)),

    // E101 — DOCX ingest (r12): office documents are a first-class
    // pretraining source (institutional archives, public-records and
    // document drops ship .docx). A DOCX is an OPC package (ECMA-376
    // Part 2) — part roles are DECLARED, not path-implied — so
    // operators.Docx composes the CRC-verifying zip walk with the
    // OPC indirection honored: [Content_Types].xml must resolve the
    // main part's type (Override-then-Default), _rels/.rels routes to
    // the main part (the fixture ROTATES its path per file to prove
    // nothing is hardcoded), and the WordprocessingML walk emits one
    // row per paragraph with runs concatenated, entities decoded, and
    // tracked deletions / field codes / commented-out runs EXCLUDED —
    // each of those, leaked, silently corrupts a corpus. The oracle
    // re-creates the decoded paragraph text in closed form.
    // Per-file scan-local, zero shuffle.
    "e101_docx" -> QueryDef(
      (s, dir) => {
        val dDir = writeDocxFixture(s, dir)
        docxProject(s.read.format("binaryFile").load(dDir))
          .orderBy(col("fname"), col("para_idx"))
      },
      Some(docxOracleSql)),

    // E102 — TFRecord export + re-ingest (r12): the training-data
    // interchange format half the ecosystem's pipelines emit and
    // consume — the tensor-stack counterpart of the e52 WebDataset
    // export. operators.TfRecord writes every non-null document as a
    // tf.Example (minimal from-scratch protobuf codec, sorted-key
    // deterministic encode) under the masked-CRC32C record framing
    // (JDK CRC32C — the Inflater precedent; the Castagnoli check
    // value is pinned in TfRecordSpec), then reads the shards back
    // through the strict walk (both CRCs verified per record,
    // exact-consume, length-before-allocation bomb guard). The oracle
    // is the documents table itself: one wrong byte anywhere in
    // varint/framing/CRC arithmetic shifts a row and goes red.
    // Write = repartition(8) + per-partition streaming append;
    // read-back per-file parallel, scan-local, zero shuffle.
    "e102_tfrecord" -> QueryDef(
      (s, dir) => {
        val tDir = writeTfRecordFixture(s, dir)
        graft.operators.TfRecord.parseDocs(
            s.read.format("binaryFile").load(tDir))
          .select(col("doc_id"),
            regexp_extract(col("fname"), "([0-9]+)", 1)
              .cast("int").as("shard"),
            col("text"))
          .orderBy(col("doc_id"))
      },
      Some(tfRecordOracleSql)),

    // E103 — FLAC ingest (r12): the lossless codec audio corpora
    // actually ship (LibriSpeech, Common Voice exports, archival
    // speech drops publish FLAC, not WAV). The runtime carries no
    // FLAC codec, so operators.Flac is a from-scratch implementation
    // of the public format spec (RFC 9639) in the bzip2/JPEG/LZMA
    // tradition: MSB-first bitstream, frame CRC-8/CRC-16, FIXED+LPC
    // predictors, Rice-partitioned residuals, all four stereo
    // decorrelation modes, wasted bits — and the STREAMINFO MD5 of
    // the decoded PCM enforced, so every decoded sample is
    // load-bearing. The fixture encoder rotates channel assignments,
    // subframe types and Rice methods per frame; the oracle
    // re-derives every sample from the (doc_id, channel, i) closed
    // form and aggregates with DuckDB's own list arithmetic.
    // Per-file scan-local decode, zero shuffle; stats are codegen'd
    // higher-order functions over the PCM arrays, no UDF.
    "e103_flac" -> QueryDef(
      (s, dir) => {
        val fDir = writeFlacFixture(s, dir)
        flacProject(s.read.format("binaryFile").load(fDir))
          .orderBy(col("doc_id"))
      },
      Some(flacOracleSql)),

    // E104 — SQLite ingest (r12): the single-file database format
    // annotation sets, app-data exports and public-records dumps ship.
    // operators.Sqlite is a from-scratch implementation of the public
    // file format: table b-tree walk (leaf + interior), big-endian
    // varints, the record serial-type system, spill-formula overflow
    // chains, sqlite_master routing by table NAME, the
    // INTEGER-PRIMARY-KEY rowid alias (stored NULL, value = rowid) and
    // REAL-affinity read-back (integral reals are stored as INTEGERs
    // on disk). WAL-mode and WITHOUT-ROWID files reject loudly;
    // SqliteSpec proves both directions against the reference
    // implementation (real sqlite3 output read exactly incl. freelist
    // pages; our output passes PRAGMA integrity_check). Per-file
    // scan-local walk, zero shuffle.
    "e104_sqlite" -> QueryDef(
      (s, dir) => {
        val sDir = writeSqliteFixture(s, dir)
        sqliteProject(s.read.format("binaryFile").load(sDir))
          .orderBy(col("doc_id"))
      },
      Some(sqliteOracleSql)),

    // E105 — Avro container ingest (r12): the row-oriented interchange
    // format data-platform exports ship (Kafka archives, warehouse
    // unloads, event logs). The optional spark-avro module is not on
    // this runtime, so operators.AvroOcf implements the public Avro
    // spec from scratch: OCF framing with per-block sync verification,
    // zigzag varints, a schema-driven decoder over the FULL type
    // system (nested/recursive records, unions, enums, fixed, both
    // array/map block forms), strict schema JSON parsing, and block
    // codecs null/deflate/snappy (CRC32 suffix verified)/zstandard
    // (window-bounded) — unknown codecs reject loudly. AvroOcfSpec
    // proves the decoder against reference DataFileWriter output;
    // this row does the same through the driver with the codec
    // rotating per file. Per-file scan-local decode, zero shuffle.
    "e105_avro" -> QueryDef(
      (s, dir) => {
        val aDir = writeAvroFixture(s, dir)
        avroProject(s.read.format("binaryFile").load(aDir))
          .orderBy(col("doc_id"))
      },
      Some(avroOracleSql)),

    // E106 — TIFF ingest (r12): the format scanned-document corpora
    // ship (archival book scans, newspaper digitization, records
    // dumps publish multi-page TIFF — to scan corpora what PDF is to
    // born-digital documents). operators.Tiff implements TIFF 6.0
    // from scratch: both byte orders, the IFD walk with ascending-tag
    // discipline, multi-page next-IFD chains (cycle-guarded), real
    // strip splitting, TILED organization with edge clipping (r13),
    // BILEVEL pages (1-bit, the BitsPerSample default, normalized to
    // black=0/white=255), and compressions none/PackBits/LZW/CCITT
    // G4 — the LZW filter COMPOSES the validated ISO 32000 LZWDecode
    // (the same algorithm, early-change included) and G4 COMPOSES
    // operators.CcittG4, the from-scratch T.6 codec with hand-pinned
    // bitstreams (scanned-document corpora — books, patents,
    // newspapers — ship G4-compressed bilevel, often tiled; that is
    // what this row was built for). 16-bit samples, palette/CMYK
    // photometrics, 8-bit WhiteIsZero, G3 fax, G4 uncompressed mode,
    // FillOrder 2, planar-2 and mixed strip+tile directories all
    // reject loudly; every segment must decompress to EXACTLY its
    // expected bytes; pixel bomb cap before allocation. One stats row
    // per PAGE so a 500-page book scan parallelizes downstream.
    // Per-file scan-local decode, zero shuffle.
    "e106_tiff" -> QueryDef(
      (s, dir) => {
        val tDir = writeTiffFixture(s, dir)
        tiffProject(s.read.format("binaryFile").load(tDir))
          .orderBy(col("fname"), col("page"))
      },
      Some(tiffOracleSql)),

    // E107 — MP3 framing walk (r12): the compressed format speech
    // corpora ship (Common Voice publishes MP3; podcast/radio archives
    // are MP3 end to end). Full audio decode is out of scope BY
    // DESIGN; what a corpus pipeline needs first is exact FRAMING —
    // duration, CBR/VBR shape, sample rate, channels — the fields
    // that drive segmentation budgets and quality gates. The e12t
    // MP4-sample-table approach applied to MPEG audio: operators.Mp3
    // walks ISO 11172-3/13818-3 frame headers with the spec's own
    // bitrate/sample-rate/samples-per-frame tables (all three
    // versions, all three layers, the Layer-I slot rule), skips
    // ID3v2/ID3v1 tags exactly, and REJECTS stray bytes, truncated
    // final frames, free-format bitrate and mid-file rate changes —
    // a resync-scan reader silently miscounts duration on exactly
    // those files. Per-file scan-local walk, zero shuffle.
    "e107_mp3" -> QueryDef(
      (s, dir) => {
        val mDir = writeMp3Fixture(s, dir)
        mp3Project(s.read.format("binaryFile").load(mDir))
          .orderBy(col("doc_id"))
      },
      Some(mp3OracleSql)),

    // E108 — Ogg/Opus container walk (r12): the container modern
    // voice corpora ship (.opus is the dominant speech-drop format;
    // Wikimedia and YouTube-derived audio are Ogg). operators.Ogg
    // implements RFC 3533 + RFC 7845 + Vorbis I identification from
    // scratch: page framing with the Ogg CRC VERIFIED per page,
    // packet reassembly through the lacing table including packets
    // SPANNING pages (continued-packet flag), BOS/EOS discipline,
    // consecutive page sequence numbers, single-stream enforcement
    // (multiplexed serials reject), granule monotonicity, and codec
    // identification that rejects rather than guesses. Duration is
    // granule arithmetic: the 48 kHz clock minus pre-skip for Opus,
    // declared-rate samples for Vorbis. Audio DECODE is out of scope
    // by design (the MP3 precedent). Per-file scan-local walk, zero
    // shuffle.
    "e108_ogg" -> QueryDef(
      (s, dir) => {
        val oDir = writeOggFixture(s, dir)
        oggProject(s.read.format("binaryFile").load(oDir))
          .orderBy(col("doc_id"))
      },
      Some(oggOracleSql)),

    // E109 — WebM/Matroska EBML walk (r12): the web's video container
    // (browser-sourced and YouTube-derived video corpora arrive as
    // WebM; Matroska is the archive standard). operators.Webm
    // implements RFC 8794 EBML + the Matroska registry from scratch:
    // varint IDs/sizes with the reserved unknown-size form REJECTED
    // (a reader guessing where an unsized cluster ends invents data),
    // children tiling their master EXACTLY, unknown elements SKIPPED
    // (the spec's required forward-compatibility, the proto/Avro
    // rule), Matroska CRC-32 first-child elements VERIFIED over their
    // master's remainder, and the Info/Tracks/Cluster walk emitting
    // doctype, TimestampScale-scaled duration, per-track
    // codec/geometry/audio shape and cluster/block counts. Codec
    // bitstream decode out of scope by design (MP4/MP3 precedent).
    // Per-file scan-local walk, zero shuffle.
    "e109_webm" -> QueryDef(
      (s, dir) => {
        val wDir = writeWebmFixture(s, dir)
        webmProject(s.read.format("binaryFile").load(wDir))
          .orderBy(col("doc_id"))
      },
      Some(webmOracleSql)),

    // E110 — 7z archive ingest (r12): the other archive format bulk
    // drops ship (dataset mirrors, forum dumps, Windows-origin
    // corpora). A COMPOSITION in the tar.xz tradition:
    // operators.SevenZip walks the 7z property-ID container (both
    // header CRCs verified; plain AND encoded headers — the encoded
    // form is itself a packed folder re-parsed through the same
    // machinery; SOLID folders split by the substream size list with
    // per-substream CRC32s verified) over the repo's OWN LZMA/LZMA2
    // core — already proven byte-exact both directions against real
    // xz, so the compression layer arrives reference-grade.
    // Multi-coder folders, BCJ filters and AES-256 encryption reject
    // loudly. Per-file scan-local decode, zero shuffle.
    "e110_7z" -> QueryDef(
      (s, dir) => {
        val zDir = writeSevenZipFixture(s, dir)
        sevenZipProject(s.read.format("binaryFile").load(zDir))
          .orderBy(col("doc_id"))
      },
      Some(sevenZipOracleSql)),

    "e75_mixed_ingest" -> QueryDef(
      (s, dir) => {
        import graft.operators.PdfText
        val warcDir = s"$scratch/mixedwarc_${new java.io.File(dir).getName}"
        val fd = new java.io.File(warcDir)
        if (fd.exists()) fd.listFiles().foreach(_.delete())
        fd.mkdirs()
        val rows = t(s, dir, "documents")
          .filter(col("text").isNotNull && col("doc_id") < 200)
          .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 10)
          .collect()
          .map(r => (r.getLong(0), r.getString(1),
            r.getSeq[String](2).take(10))).sortBy(_._1)
        val bo = new java.io.ByteArrayOutputStream()
        rows.foreach { case (id, src, toks) =>
          val j10 = toks.mkString(" ")
          val j8 = toks.take(8).mkString(" ")
          val payload: Array[Byte] = (id % 4) match {
            case 0 =>
              (s"""<html lang="en"><head><title>Doc $id</title>""" +
                s"""<meta name="description" content="about $id"></head>""" +
                s"<body><p>$j10</p></body></html>").getBytes("UTF-8")
            case 1 =>
              PdfText.makePdf(Seq(Seq(
                s"BT /F1 12 Tf 72 720 Td (${PdfText.esc(j8)}) Tj ET"
                  .getBytes("ISO-8859-1"))), flate = true)
            case 2 => (j10 + " é€").getBytes("UTF-8")
            case _ => (j10 + " ").getBytes("US-ASCII") ++
              Array(0x93.toByte, 0x94.toByte)
          }
          val head = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: https://$src.example.com/p/$id\r\n" +
            s"WARC-Date: 2026-01-01T00:00:00Z\r\n" +
            s"Content-Length: ${payload.length}\r\n\r\n").getBytes("US-ASCII")
          bo.write(head); bo.write(payload); bo.write("\r\n\r\n".getBytes("US-ASCII"))
        }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$warcDir/mixed.warc"), bo.toByteArray)
        val pdfText = udf((b: Array[Byte]) =>
          graft.operators.PdfText.extract(b).map(_.mkString("\n")).orNull)
        graft.operators.WarcCdx.parseBinary(
            s.read.format("binaryFile").load(warcDir))
          .withColumn("mime", expr("detect_mime(payload)"))
          .withColumn("title", when(col("mime") === "text/html",
            expr("html_meta(cast(payload AS STRING)).title")))
          .withColumn("text",
            when(col("mime") === "text/html",
              expr("html_text(cast(payload AS STRING))"))
            .when(col("mime") === "application/pdf", pdfText(col("payload")))
            .otherwise(expr("sniff_text(payload)")))
          .select(col("rec"), col("uri"), col("mime"), col("title"), col("text"))
          .orderBy(col("rec"))
      },
      Some("""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks,
            CAST(doc_id % 4 AS INT) AS m
          FROM documents WHERE text IS NOT NULL AND doc_id < 200),
        f AS (SELECT doc_id, source, toks, m FROM d WHERE len(toks) >= 10),
        j AS (SELECT doc_id, source, m,
            array_to_string(toks[1:10], ' ') AS j10,
            array_to_string(toks[1:8], ' ') AS j8,
            row_number() OVER (ORDER BY doc_id) - 1 AS rec
          FROM f)
        SELECT CAST(rec AS INT) AS rec,
          'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR)
            AS uri,
          CASE m WHEN 0 THEN 'text/html' WHEN 1 THEN 'application/pdf'
            WHEN 2 THEN 'text/plain'
            ELSE 'application/octet-stream' END AS mime,
          CASE m WHEN 0 THEN 'Doc ' || CAST(doc_id AS VARCHAR) END AS title,
          CASE m
            WHEN 0 THEN 'Doc ' || CAST(doc_id AS VARCHAR) || ' ' || j10
            WHEN 1 THEN j8
            WHEN 2 THEN j10 || ' ' || chr(233) || chr(8364)
            ELSE j10 || ' ' || chr(8220) || chr(8221) END AS text
        FROM j ORDER BY rec""")),

    // E76 — ANCHOR-TEXT INDEX (functions.HtmlLinks.html_anchors): the
    // label the LINKING page gives a target — the classic retrieval /
    // training signal a WAT stage aggregates per target URL (how search
    // engines describe pages they have not crawled). html_anchors pairs
    // each href with its visible anchor text (inner tags separate,
    // entities decode once, whitespace collapses, comments and RAWTEXT
    // contribute nothing, a new <a> implicitly closes the open one);
    // hrefs resolve against the page URL (RFC 3986) and normalize, and
    // the index groups per target: anchor count + the SORTED text list.
    // The fixture plants a bucket-shared target (5 docs' first anchors
    // collide), a per-source shared target (every page's "../top"), an
    // absolute shouting-case URL that must normalize before grouping,
    // and a comment-trapped ghost anchor that must not index. Shape:
    // scan-local extraction, ONE target-keyed shuffle carrying light
    // (target, text) pairs — never pages.
    "e76_anchor_text" -> QueryDef(
      (s, dir) => anchorIndex(anchorPages(
        t(s, dir, "documents"))).orderBy(col("target")),
      Some(anchorOracleSql)),

    // E77 — SUBTITLE/CAPTION ingest (SRT + WebVTT): the text side of
    // audio/video alignment corpora (ASR and captioning training data
    // ships as media + cue files). One directory mixes SubRip .srt
    // (numeric cue index, comma-decimal timecodes) and WebVTT .vtt
    // (WEBVTT header, dot-decimal timecodes, no index line); cues parse
    // to typed rows — (fname, cue, start_ms, end_ms, text) — with
    // millisecond times computed by integer arithmetic from the
    // hh:mm:ss fields (identical on both engines) and multi-line cue
    // text preserved with its internal newline. The oracle re-derives
    // every cue's times and text from construction. Per-file parallel,
    // zero shuffle.
    "e77_subtitle_ingest" -> QueryDef(
      (s, dir) => {
        val subDir = s"$scratch/subs_${new java.io.File(dir).getName}"
        val fd = new java.io.File(subDir)
        if (fd.exists()) fd.listFiles().foreach(_.delete())
        fd.mkdirs()
        val rows = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 6)
          .collect().map(r => (r.getLong(0), r.getSeq[String](1).take(6)))
          .sortBy(_._1)
        def hms(ms: Long, sep: String): String = {
          val h = ms / 3600000; val m = (ms / 60000) % 60
          val sec = (ms / 1000) % 60; val f = ms % 1000
          f"$h%02d:$m%02d:$sec%02d$sep$f%03d"
        }
        (0 until 4).foreach { b =>
          val mine = rows.filter(_._1 % 8 == b)
          val srt = mine.zipWithIndex.map { case ((id, toks), k) =>
            val st = 1000L * id; val en = st + 2500
            s"${k + 1}\n${hms(st, ",")} --> ${hms(en, ",")}\n" +
              s"${toks.take(3).mkString(" ")}\n${toks.drop(3).mkString(" ")}\n"
          }.mkString("\n")
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$subDir/sub$b.srt"), srt.getBytes("UTF-8"))
        }
        (4 until 8).foreach { b =>
          val mine = rows.filter(_._1 % 8 == b)
          val vtt = "WEBVTT\n\n" + mine.map { case (id, toks) =>
            val st = 1000L * id; val en = st + 2500
            s"${hms(st, ".")} --> ${hms(en, ".")}\n${toks.mkString(" ")}\n"
          }.mkString("\n")
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$subDir/cap${b - 4}.vtt"), vtt.getBytes("UTF-8"))
        }
        val timeRe = "(\\d{2,}):(\\d{2}):(\\d{2})[.,](\\d{3}) --> " +
          "(\\d{2,}):(\\d{2}):(\\d{2})[.,](\\d{3})"
        def ms(prefix: Int): org.apache.spark.sql.Column =
          regexp_extract(col("tl"), timeRe, prefix).cast("long") * 3600000L +
            regexp_extract(col("tl"), timeRe, prefix + 1).cast("long") * 60000L +
            regexp_extract(col("tl"), timeRe, prefix + 2).cast("long") * 1000L +
            regexp_extract(col("tl"), timeRe, prefix + 3).cast("long")
        s.read.format("binaryFile").load(subDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            col("content").cast("string").as("body"))
          .select(col("fname"), posexplode(split(
            regexp_replace(col("body"), "^WEBVTT\r?\n\r?\n", ""), "\r?\n\r?\n")))
          .filter(col("col").rlike("-->"))
          .select(col("fname"), col("pos"), col("col").as("blk"))
          // the timing line is the one containing the arrow (SRT blocks
          // carry an index line above it; VTT cues start with it)
          .withColumn("lines", split(col("blk"), "\r?\n"))
          .withColumn("tl", element_at(expr(
            "filter(lines, l -> l LIKE '%-->%')"), 1))
          .withColumn("ti", expr(
            "array_position(lines, filter(lines, l -> l LIKE '%-->%')[0])").cast("int"))
          .withColumn("cue", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("fname"))
              .orderBy(col("pos"))).cast("int") - 1)
          .select(col("fname"), col("cue"),
            ms(1).as("start_ms"), ms(5).as("end_ms"),
            // a file-final cue carries the file's trailing newline as an
            // empty last line — drop empties (cue text has none)
            array_join(expr(
              "filter(slice(lines, ti + 1, size(lines) - ti), l -> l != '')"),
              "\n").as("text"))
          .filter(length(col("text")) > 0)
          .orderBy(col("fname"), col("cue"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
            CAST(doc_id % 8 AS INT) AS b
          FROM documents WHERE text IS NOT NULL),
        f AS (SELECT doc_id, toks, b FROM d WHERE len(toks) >= 6),
        x AS (SELECT doc_id, b,
            CASE WHEN b < 4 THEN 'sub' || CAST(b AS VARCHAR) || '.srt'
              ELSE 'cap' || CAST(b - 4 AS VARCHAR) || '.vtt' END AS fname,
            CAST(1000 * doc_id AS BIGINT) AS start_ms,
            CAST(1000 * doc_id + 2500 AS BIGINT) AS end_ms,
            CASE WHEN b < 4
              THEN array_to_string(toks[1:3], ' ') || chr(10)
                || array_to_string(toks[4:6], ' ')
              ELSE array_to_string(toks[1:6], ' ') END AS text
          FROM f)
        SELECT fname,
          CAST(row_number() OVER (PARTITION BY b ORDER BY doc_id) - 1 AS INT)
            AS cue,
          start_ms, end_ms, text
        FROM x ORDER BY fname, cue""")),

    // E78 — HITS hubs & authorities (Kleinberg 1999): the OTHER classic
    // link-analysis score next to e45's PageRank — authorities are
    // pages good hubs point AT, hubs are pages that point at good
    // authorities, computed as two unrolled mutual-reinforcement
    // iterations with sum-normalization after each half-step (h0 = 1,
    // so the first authority pass is in-degree). Same dimension-scale
    // host graph as e45; every aggregate is keyed by node, the
    // normalizers are 1-row aggregates joined back (never a collect),
    // and at 100 TB the per-iteration cost is one dst-keyed and one
    // src-keyed shuffle of light pairs. round(6) absorbs the last-ulp
    // float-sum ordering differences (the e45 precedent).
    "e78_hits" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("text").isNotNull)
        // r18 optimization: checkpoint the graph and every normalized
        // half-step. The `tot` crossJoin makes each score subtree appear
        // TWICE in its consumer, so the unrolled 4-half-step plan was
        // re-executing a1 up to 8x (exponential recompute; 199 jobs).
        // localCheckpoint per half-step makes each compute once — the
        // same per-round materialization ConnectedComponents already
        // does. Measured 5.86 -> 1.04 s at sf0.1 (Lab, equality-checked);
        // scores are dimension-scale (one row per host), so the
        // checkpointed blocks are tiny at any corpus size.
        val edges = docs.select(col("source").as("src"),
            concat(lit("src"), col("doc_id") % 7).as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct().localCheckpoint()
        val nodes = edges.select(col("src").as("node"))
          .union(edges.select(col("dst"))).distinct().localCheckpoint()
        def normalized(scores: DataFrame, c: String): DataFrame = {
          val tot = scores.agg(sum(col(c)).as("tot"))
          scores.crossJoin(broadcast(tot))
            .select(col("node"), (col(c) / col("tot")).as(c))
            .localCheckpoint()
        }
        // h0 = 1: authority pass 1 is plain in-degree, then normalize
        val a1 = normalized(nodes.join(
            edges.groupBy(col("dst").as("node"))
              .agg(count(lit(1)).cast("double").as("a")),
            Seq("node"), "left")
          .select(col("node"), coalesce(col("a"), lit(0.0)).as("a")), "a")
        val h1 = normalized(nodes.join(
            edges.join(a1.withColumnRenamed("node", "dst"), "dst")
              .groupBy(col("src").as("node")).agg(sum(col("a")).as("h")),
            Seq("node"), "left")
          .select(col("node"), coalesce(col("h"), lit(0.0)).as("h")), "h")
        val a2 = normalized(nodes.join(
            edges.join(h1.withColumnRenamed("node", "src"), "src")
              .groupBy(col("dst").as("node")).agg(sum(col("h")).as("a")),
            Seq("node"), "left")
          .select(col("node"), coalesce(col("a"), lit(0.0)).as("a")), "a")
        val h2 = normalized(nodes.join(
            edges.join(a2.withColumnRenamed("node", "dst"), "dst")
              .groupBy(col("src").as("node")).agg(sum(col("a")).as("h")),
            Seq("node"), "left")
          .select(col("node"), coalesce(col("h"), lit(0.0)).as("h")), "h")
        a2.join(h2, "node")
          .select(col("node"), round(col("a"), 6).as("authority"),
            round(col("h"), 6).as("hub"))
          .orderBy(col("node"))
      },
      Some("""WITH e AS (SELECT DISTINCT source AS src,
            'src' || CAST(doc_id % 7 AS VARCHAR) AS dst
          FROM documents WHERE text IS NOT NULL
            AND source <> 'src' || CAST(doc_id % 7 AS VARCHAR)),
        nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM e UNION SELECT dst FROM e)),
        a1r AS (SELECT nodes.node,
            CAST(coalesce(t.a, 0) AS DOUBLE) AS a
          FROM nodes LEFT JOIN (SELECT dst AS node, count(*) AS a
            FROM e GROUP BY dst) t USING (node)),
        a1 AS (SELECT node, a / (SELECT sum(a) FROM a1r) AS a FROM a1r),
        h1r AS (SELECT nodes.node, coalesce(t.h, 0) AS h
          FROM nodes LEFT JOIN (SELECT src AS node, sum(a1.a) AS h
            FROM e JOIN a1 ON a1.node = e.dst GROUP BY src) t USING (node)),
        h1 AS (SELECT node, h / (SELECT sum(h) FROM h1r) AS h FROM h1r),
        a2r AS (SELECT nodes.node, coalesce(t.a, 0) AS a
          FROM nodes LEFT JOIN (SELECT dst AS node, sum(h1.h) AS a
            FROM e JOIN h1 ON h1.node = e.src GROUP BY dst) t USING (node)),
        a2 AS (SELECT node, a / (SELECT sum(a) FROM a2r) AS a FROM a2r),
        h2r AS (SELECT nodes.node, coalesce(t.h, 0) AS h
          FROM nodes LEFT JOIN (SELECT src AS node, sum(a2.a) AS h
            FROM e JOIN a2 ON a2.node = e.dst GROUP BY src) t USING (node)),
        h2 AS (SELECT node, h / (SELECT sum(h) FROM h2r) AS h FROM h2r)
        SELECT a2.node, round(a2.a, 6) AS authority, round(h2.h, 6) AS hub
        FROM a2 JOIN h2 USING (node) ORDER BY a2.node""")),

    // E79 — JSONL training-shard export: the lingua-franca corpus
    // interchange format ({"text": ..., meta...} newline-delimited
    // JSON, what most open-data corpus releases ship as). The export is
    // a plain distributed text write of to_json rows; the CHECK is true
    // INTEROP — DuckDB independently parses the Spark-WRITTEN files
    // (read_json_auto over the same directory), so every JSON escape
    // decision crosses engines: the planted `note` field carries a
    // quote, a literal newline and a non-ASCII char per row, which
    // to_json must escape (\" and \n) and DuckDB must decode back to
    // the identical string. Row-set equality is layout-independent —
    // no file-naming determinism needed, unlike the tar/WET writers.
    "e79_jsonl_export" -> QueryDef(
      (s, dir) => {
        val out = s"$scratch/jsonl_${new java.io.File(dir).getName}"
        t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("int").as("n_toks"),
            concat(lit("q\"\né-"), col("doc_id")).as("note"),
            col("text"))
          .select(to_json(struct(col("doc_id"), col("lang"), col("n_toks"),
            col("note"), col("text"))).as("value"))
          .coalesce(4)
          .write.mode("overwrite").text(out)
        s.read.json(out)
          .select(col("doc_id"), col("lang"), col("n_toks").cast("int"),
            col("note"), col("text"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, lang, CAST(n_toks AS INT) AS n_toks, note, text
        FROM read_json_auto('$scratch/jsonl_${LlmPipeline.SfToken}/part-*')
        ORDER BY doc_id""")),

    // E80 — SFT sample rendering with LOSS-MASK offsets: the last prep
    // step before supervised fine-tuning — flatten role-tagged
    // conversation turns through a chat template and report, for every
    // assistant answer, its exact [start, end) char span in the
    // rendered string (the mask a trainer needs to supervise only the
    // answers). Branches alternate one- and two-exchange conversations
    // (doc_id%2); spans are computed as running lengths of the rendered
    // PREFIX pieces — pure integer arithmetic both engines re-derive —
    // and the oracle also re-checks each span by substringing the
    // rendered text (a template drift of one char anywhere breaks it).
    // Scan-local column algebra, zero shuffle.
    "e80_sft_render" -> QueryDef(
      (s, dir) => {
        val sys = "<|system|>\nYou are helpful.\n"
        t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 20)
          .withColumn("m", (col("doc_id") % 2).cast("int"))
          .withColumn("u1", array_join(slice(col("toks"), 1, 6), " "))
          .withColumn("a1", array_join(slice(col("toks"), 7, 6), " "))
          .withColumn("u2", array_join(slice(col("toks"), 13, 4), " "))
          .withColumn("a2", array_join(slice(col("toks"), 17, 4), " "))
          .withColumn("pre1", concat(lit(sys), lit("<|user|>\n"), col("u1"),
            lit("\n<|assistant|>\n")))
          .withColumn("a1_start", length(col("pre1")))
          .withColumn("a1_end", col("a1_start") + length(col("a1")))
          .withColumn("pre2", when(col("m") === 1, concat(col("pre1"),
            col("a1"), lit("<|end|>\n<|user|>\n"), col("u2"),
            lit("\n<|assistant|>\n"))))
          .withColumn("a2_start", length(col("pre2")))
          .withColumn("a2_end", col("a2_start") + length(col("a2")))
          .withColumn("rendered",
            when(col("m") === 0,
              concat(col("pre1"), col("a1"), lit("<|end|>")))
            .otherwise(concat(col("pre2"), col("a2"), lit("<|end|>"))))
          .select(col("doc_id"), (col("m") + 1).as("n_turns"), col("rendered"),
            col("a1_start"), col("a1_end"),
            when(col("m") === 1, col("a2_start")).as("a2_start"),
            when(col("m") === 1, col("a2_end")).as("a2_end"),
            // the mask re-checked against the rendered text itself
            (substring(col("rendered"), col("a1_start") + 1,
              col("a1_end") - col("a1_start")) === col("a1")).as("mask1_ok"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
            CAST(doc_id % 2 AS INT) AS m
          FROM documents WHERE text IS NOT NULL),
        f AS (SELECT doc_id, toks, m FROM d WHERE len(toks) >= 20),
        p AS (SELECT doc_id, m,
            array_to_string(toks[1:6], ' ') AS u1,
            array_to_string(toks[7:12], ' ') AS a1,
            array_to_string(toks[13:16], ' ') AS u2,
            array_to_string(toks[17:20], ' ') AS a2
          FROM f),
        r AS (SELECT doc_id, m, a1, a2,
            '<|system|>' || chr(10) || 'You are helpful.' || chr(10)
              || '<|user|>' || chr(10) || u1 || chr(10) || '<|assistant|>'
              || chr(10) AS pre1,
            u2 FROM p),
        r2 AS (SELECT doc_id, m, a1, a2, pre1,
            CASE WHEN m = 1 THEN pre1 || a1 || '<|end|>' || chr(10)
              || '<|user|>' || chr(10) || u2 || chr(10) || '<|assistant|>'
              || chr(10) END AS pre2
          FROM r),
        o AS (SELECT doc_id, m,
            CASE WHEN m = 0 THEN pre1 || a1 || '<|end|>'
              ELSE pre2 || a2 || '<|end|>' END AS rendered,
            length(pre1) AS a1_start, length(pre1) + length(a1) AS a1_end,
            CASE WHEN m = 1 THEN length(pre2) END AS a2_start,
            CASE WHEN m = 1 THEN length(pre2) + length(a2) END AS a2_end,
            a1
          FROM r2)
        SELECT doc_id, CAST(m + 1 AS INT) AS n_turns, rendered,
          CAST(a1_start AS INT) AS a1_start, CAST(a1_end AS INT) AS a1_end,
          CAST(a2_start AS INT) AS a2_start, CAST(a2_end AS INT) AS a2_end,
          (substr(rendered, a1_start + 1, a1_end - a1_start) = a1) AS mask1_ok
        FROM o ORDER BY doc_id""")),

    // E81 — HTTP transport decoding inside WARC records
    // (operators.HttpBody): real crawled payloads overwhelmingly arrive
    // chunked and/or compressed — a reader that slices the raw body
    // gets framing lines and deflate bytes, not text. The fixture
    // WARC's records wrap full HTTP responses whose bodies rotate
    // through identity / gzip / chunked / chunked+gzip / deflate /
    // zstd / br (doc_id%7; r11 added deflate+zstd, r13 brotli — RFC 9110's deflate in
    // its zlib form with the raw-stream server-bug fallback also
    // handled, and RFC 8878 §7.2's zstd coding modern CDNs serve,
    // through the shard reader's capped frame walk, and RFC 7932's
    // br through operators.Brotli — the repo's own decoder, static
    // dictionary included; the combined case decodes in WIRE ORDER —
    // dechunk, then gunzip), with a non-ASCII UTF-8 tail proving bytes
    // survive every transform.
    // Payloads walk as BINARY (WarcCdx.parseBinary — gzip bytes corrupt
    // through a string decode) and the oracle states every record's status,
    // mime, encoding label and decoded text from construction.
    "e81_http_decode" -> QueryDef(
      (s, dir) => {
        import graft.operators.HttpBody
        val warcDir = s"$scratch/httpwarc_${new java.io.File(dir).getName}"
        val fd = new java.io.File(warcDir)
        if (fd.exists()) fd.listFiles().foreach(_.delete())
        fd.mkdirs()
        val rows = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 10)
          .collect().map(r => (r.getLong(0), r.getString(1),
            r.getSeq[String](2).take(10))).sortBy(_._1)
        val bo = new java.io.ByteArrayOutputStream()
        rows.foreach { case (id, src, toks) =>
          val bodyText = (toks.mkString(" ") + " é€").getBytes("UTF-8")
          val (hdrs, body) = (id % 7) match {
            case 0 => ("Content-Type: text/html\r\n", bodyText)
            case 1 => ("Content-Type: text/html\r\nContent-Encoding: gzip\r\n",
              HttpBody.gzip(bodyText))
            case 2 => ("Content-Type: text/html\r\nTransfer-Encoding: chunked\r\n",
              HttpBody.chunk(bodyText, Seq(3, 11, 200)))
            case 3 => ("Content-Type: text/html\r\nTransfer-Encoding: chunked\r\n" +
              "Content-Encoding: gzip\r\n",
              HttpBody.chunk(HttpBody.gzip(bodyText), Seq(7, 200)))
            case 4 => ("Content-Type: text/html\r\nContent-Encoding: deflate\r\n",
              HttpBody.deflateZlib(bodyText))
            case 5 => ("Content-Type: text/html\r\nContent-Encoding: zstd\r\n",
              graft.operators.ZstdShards.makeFrame(bodyText))
            // r13: RFC 7932 'br' — decoded by operators.Brotli; the
            // fixture rides its store-mode writer (the codec itself is
            // reference-pinned in BrotliSpec), split so multi-metablock
            // transport decode is live in the driver row
            case _ => ("Content-Type: text/html\r\nContent-Encoding: br\r\n",
              graft.operators.Brotli.storeEncode(bodyText))
          }
          val payload = (s"HTTP/1.1 200 OK\r\n$hdrs\r\n").getBytes("US-ASCII") ++ body
          val head = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: https://$src.example.com/p/$id\r\n" +
            s"WARC-Date: 2026-01-01T00:00:00Z\r\n" +
            s"Content-Length: ${payload.length}\r\n\r\n").getBytes("US-ASCII")
          bo.write(head); bo.write(payload); bo.write("\r\n\r\n".getBytes("US-ASCII"))
        }
        // r14 (VERDICT r13 item 7): one REFERENCE-ENCODED br response —
        // a committed stream produced by the reference encoder
        // (quality 9, window 22, sha256 3eabcff4…, round-tripped
        // through the reference decoder at generation time) rides the
        // full HTTP transport path, closing the seam between the
        // spec-level BrotliSpec fixtures and the pipeline-level row.
        // Decoded body = repeat(sentence, 40) + 'é€', re-derived in
        // closed form by the oracle.
        locally {
          val refBr = {
            val in = getClass.getResourceAsStream("/graft/e81_ref.br")
            val b = in.readAllBytes(); in.close(); b
          }
          val hdrs = "Content-Type: text/html\r\nContent-Encoding: br\r\n"
          val payload = (s"HTTP/1.1 200 OK\r\n$hdrs\r\n").getBytes("US-ASCII") ++ refBr
          val head = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: https://ref.example.com/br\r\n" +
            s"WARC-Date: 2026-01-01T00:00:00Z\r\n" +
            s"Content-Length: ${payload.length}\r\n\r\n").getBytes("US-ASCII")
          bo.write(head); bo.write(payload); bo.write("\r\n\r\n".getBytes("US-ASCII"))
        }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$warcDir/http.warc"), bo.toByteArray)
        val dec = udf((b: Array[Byte]) => graft.operators.HttpBody.decode(b))
        graft.operators.WarcCdx.parseBinary(
            s.read.format("binaryFile").load(warcDir))
          .select(col("rec"), col("uri"), dec(col("payload")).as("d"))
          .select(col("rec"), col("uri"),
            col("d._1").as("status"), col("d._2").as("mime"),
            col("d._3").as("encoding"), col("d._4").as("body"))
          .withColumn("n_chars", length(col("body")))
          .orderBy(col("rec"))
      },
      Some("""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks,
            CAST(doc_id % 7 AS INT) AS m
          FROM documents WHERE text IS NOT NULL),
        f AS (SELECT doc_id, source, toks, m FROM d WHERE len(toks) >= 10),
        j AS (SELECT doc_id, source, m,
            array_to_string(toks[1:10], ' ') || ' ' || chr(233) || chr(8364)
              AS body,
            row_number() OVER (ORDER BY doc_id) - 1 AS rec
          FROM f)
        SELECT CAST(rec AS INT) AS rec,
          'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR)
            AS uri,
          200 AS status, 'text/html' AS mime,
          CASE m WHEN 0 THEN 'identity' WHEN 1 THEN 'gzip'
            WHEN 2 THEN 'chunked' WHEN 3 THEN 'chunked+gzip'
            WHEN 4 THEN 'deflate' WHEN 5 THEN 'zstd' ELSE 'br' END AS encoding,
          body, CAST(length(body) AS INT) AS n_chars
        FROM j
        UNION ALL
        SELECT CAST((SELECT count(*) FROM j) AS INT) AS rec,
          'https://ref.example.com/br' AS uri, 200 AS status,
          'text/html' AS mime, 'br' AS encoding,
          repeat('the quick brown fox jumps over the lazy dog 0123456789 ', 40)
            || chr(233) || chr(8364) AS body,
          CAST(length(repeat('the quick brown fox jumps over the lazy dog 0123456789 ', 40)
            || chr(233) || chr(8364)) AS INT) AS n_chars
        ORDER BY rec""")),

    // E82 — Crawl-delay directive → politeness scheduling: the missing
    // seam between e49's robots parsing and e56's fetch scheduler —
    // until now the per-host delay was synthesized; here it is PARSED
    // from the robots bodies (operators.RobotsTxt.parseDelays /
    // effectiveDelay: same RFC 9309 group structure, named-group-else-
    // star selection, LAST directive wins within a group, non-numeric
    // values drop leniently). The fixture plants every selection edge:
    // a fastbot decoy group that must not apply, a graftbot group on
    // k%3==0 domains (whose delay is the NON-NUMERIC 'fast' on k%15==0
    // — dropping it must fall through to the star group), and a star
    // group that declares the directive TWICE (9 then the real value —
    // last wins). Delays then drive the e56 per-host slot windows. One
    // host-keyed shuffle; the delays table is a broadcast dimension.
    "e82_crawl_delay" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("text").isNotNull)
        val k = expr("CAST(substring(source, 4) AS INT)")
        val files = docs.select(col("source")).distinct()
          .withColumn("k", k)
          .select(concat(col("source"), lit(".example.com")).as("domain"),
            concat(
              lit("# politeness\nUser-agent: fastbot\nCrawl-delay: 1\n" +
                "Disallow: /tmp/\n\n"),
              when(col("k") % 3 === 0, concat(
                lit("User-agent: graftbot\nCrawl-delay: "),
                when(col("k") % 15 === 0, lit("fast")).otherwise(lit("2")),
                lit("\nDisallow: /x/\n\n"))).otherwise(lit("")),
              lit("User-agent: *\nCrawl-delay: 9\nCrawl-delay: "),
              (lit(3) + col("k") % 4), lit("\n")).as("content"))
        val delays = graft.operators.RobotsTxt.effectiveDelay(
          graft.operators.RobotsTxt.parseDelays(files), "graftbot", 5.0)
        val urls = docs.filter(col("doc_id") < 300)
          .select(concat(col("source"), lit(".example.com")).as("domain"),
            concat(lit("https://"), col("source"), lit(".example.com/p/"),
              col("doc_id")).as("url"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("domain"))
          .orderBy(md5(col("url").cast("binary")), col("url"))
        urls.join(broadcast(delays), Seq("domain"))
          .withColumn("delay_ms", (col("delay_s") * 1000).cast("long"))
          .withColumn("slot", (row_number().over(w) - 1).cast("int"))
          .withColumn("sched_ms", col("slot") * col("delay_ms"))
          .select(col("url"), col("domain"), col("delay_ms"), col("slot"),
            col("sched_ms"))
          .orderBy(col("domain"), col("slot"))
      },
      Some("""WITH doms AS (SELECT DISTINCT source,
            CAST(substr(source, 4) AS INT) AS k
          FROM documents WHERE text IS NOT NULL),
        del AS (SELECT source || '.example.com' AS domain,
            CAST(CASE WHEN k % 3 = 0 AND k % 15 <> 0 THEN 2
              ELSE 3 + k % 4 END * 1000 AS BIGINT) AS delay_ms
          FROM doms),
        u AS (SELECT source || '.example.com' AS domain,
            'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR)
              AS url
          FROM documents WHERE text IS NOT NULL AND doc_id < 300)
        SELECT url, u.domain, delay_ms,
          CAST(row_number() OVER w - 1 AS INT) AS slot,
          CAST((row_number() OVER w - 1) * delay_ms AS BIGINT) AS sched_ms
        FROM u JOIN del ON u.domain = del.domain
        WINDOW w AS (PARTITION BY u.domain ORDER BY md5(url), url)
        ORDER BY u.domain, slot""")),

    // E83 — WARC REVISIT resolution: how real archives store dedup —
    // a re-fetch whose payload matched an earlier capture is written as
    // a `WARC-Type: revisit` record with NO body, carrying the payload
    // digest (`WARC-Payload-Digest: sha-256:<hex>`) and a
    // `WARC-Refers-To-Target-URI`; a consumer resolves the revisit back
    // to a stored capture BY DIGEST (the CommonCrawl identical-payload
    // profile). The fixture writes response records for every doc and a
    // digest-bearing revisit per doc_id%6==1 referencing its bucket
    // leader's CONTENT (cross-URL content dedup — the real shape);
    // resolution groups responses by payload digest (duplicate corpus
    // texts legitimately share one group — keeper = min uri, the e01
    // rule) and joins revisits in. One digest-keyed shuffle of light
    // rows; bodies never move past their first aggregation.
    "e83_revisit_resolve" -> QueryDef(
      (s, dir) => {
        val warcDir = s"$scratch/revwarc_${new java.io.File(dir).getName}"
        val fd = new java.io.File(warcDir)
        if (fd.exists()) fd.listFiles().foreach(_.delete())
        fd.mkdirs()
        val rows = t(s, dir, "documents")
          .filter(col("text").isNotNull && col("doc_id") < 300)
          .select(col("doc_id"), col("source"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
          .sortBy(_._1)
        val byId = rows.map(r => r._1 -> r).toMap
        def sha(t: String): String = java.security.MessageDigest
          .getInstance("SHA-256").digest(t.getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString
        def url(src: String, id: Long) = s"https://$src.example.com/p/$id"
        val bo = new java.io.ByteArrayOutputStream()
        def w(t: String): Unit = bo.write(t.getBytes("UTF-8"))
        rows.foreach { case (id, src, text) =>
          w(s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: ${url(src, id)}\r\n" +
            s"WARC-Date: 2026-01-01T00:00:00Z\r\n" +
            s"Content-Length: ${text.getBytes("UTF-8").length}\r\n\r\n$text\r\n\r\n")
          if (id % 6 == 1) {
            val (li, ls, lt) = byId.getOrElse(id - id % 5, (id, src, text))
            w(s"WARC/1.0\r\nWARC-Type: revisit\r\n" +
              s"WARC-Target-URI: ${url(src, id)}\r\n" +
              s"WARC-Refers-To-Target-URI: ${url(ls, li)}\r\n" +
              s"WARC-Payload-Digest: sha-256:${sha(lt)}\r\n" +
              s"WARC-Date: 2026-02-01T00:00:00Z\r\n" +
              s"Content-Length: 0\r\n\r\n\r\n\r\n")
          }
        }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$warcDir/revisit.warc"), bo.toByteArray)
        // payload sliced by RECORD-RELATIVE character arithmetic (from
        // the separator to the trailing CRLFCRLF) rather than by
        // Content-Length: the header counts BYTES, substr counts CHARS,
        // and the two diverge the moment a payload carries a multi-byte
        // character — the magic-split record string already bounds the
        // payload, so no byte count is needed
        val recs = s.read.format("binaryFile").load(warcDir)
          .select(col("content").cast("string").as("c"))
          .select(posexplode(split(col("c"), "WARC/1\\.0\r\n")))
          .filter(length(col("col")) > 0)
          .select((col("pos") - 1).cast("int").as("rec"),
            regexp_extract(col("col"), "WARC-Type: ([^\r]+)", 1).as("rtype"),
            regexp_extract(col("col"), "WARC-Target-URI: ([^\r]+)", 1).as("uri"),
            regexp_extract(col("col"), "WARC-Refers-To-Target-URI: ([^\r]+)", 1)
              .as("refers_uri"),
            regexp_extract(col("col"), "WARC-Payload-Digest: sha-256:([0-9a-f]+)", 1)
              .as("pdigest"),
            col("col").substr(instr(col("col"), "\r\n\r\n") + 4,
              length(col("col")) - instr(col("col"), "\r\n\r\n") - 7)
              .as("payload"))
        val groups = recs.filter(col("rtype") === "response")
          .groupBy(sha2(col("payload"), 256).as("digest"))
          .agg(min(col("uri")).as("resolved_uri"),
            min(length(col("payload"))).cast("int").as("n_chars"))
        recs.filter(col("rtype") === "revisit")
          .join(groups, col("pdigest") === col("digest"))
          .select(col("rec"), col("uri"), col("refers_uri"),
            col("resolved_uri"), col("n_chars"))
          .orderBy(col("rec"))
      },
      Some("""WITH f AS (SELECT doc_id, source, text
          FROM documents WHERE text IS NOT NULL AND doc_id < 300),
        ld AS (SELECT a.doc_id, a.source,
            CASE WHEN b.doc_id IS NOT NULL THEN b.text ELSE a.text END AS ltext,
            CASE WHEN b.doc_id IS NOT NULL
              THEN 'https://' || b.source || '.example.com/p/'
                || CAST(b.doc_id AS VARCHAR)
              ELSE 'https://' || a.source || '.example.com/p/'
                || CAST(a.doc_id AS VARCHAR) END AS refers_uri
          FROM f a LEFT JOIN f b ON b.doc_id = a.doc_id - a.doc_id % 5),
        recs AS (
          SELECT doc_id, source, 0 AS isrev FROM f
          UNION ALL SELECT doc_id, source, 1 FROM f WHERE doc_id % 6 = 1),
        numbered AS (SELECT doc_id, source, isrev,
            row_number() OVER (ORDER BY doc_id, isrev) - 1 AS rec
          FROM recs)
        SELECT CAST(n.rec AS INT) AS rec,
          'https://' || n.source || '.example.com/p/' || CAST(n.doc_id AS VARCHAR)
            AS uri,
          ld.refers_uri,
          (SELECT min('https://' || r.source || '.example.com/p/'
              || CAST(r.doc_id AS VARCHAR))
            FROM f r WHERE r.text = ld.ltext) AS resolved_uri,
          CAST(length(ld.ltext) AS INT) AS n_chars
        FROM numbered n JOIN ld ON n.doc_id = ld.doc_id
        WHERE n.isrev = 1 ORDER BY rec""")),

    // E86 — WAT-STYLE metadata export: the artifact the WAT stage
    // actually ships (CommonCrawl's .wat files are per-page JSON of
    // extracted metadata + outlinks riding next to the WARC) — here
    // composed from the session's own extractors: html_meta supplies
    // title/lang, html_anchors supplies the resolved outlink list, and
    // the whole record serializes through to_json into JSONL shards.
    // The check is the e79 interop form: DuckDB independently parses
    // the Spark-WRITTEN files and re-derives every field — title, lang,
    // link count AND the full sorted link array — from the same page
    // construction. Scan-local extract + a layout-independent
    // distributed write; one file read per record at any scale.
    "e86_wat_export" -> QueryDef(
      (s, dir) => {
        val out = s"$scratch/wat_${new java.io.File(dir).getName}"
        anchorPages(t(s, dir, "documents"))
          .withColumn("html2", concat(
            lit("<html lang=\"en\"><head><title>Page "), col("doc_id"),
            lit("</title></head>"), col("html"), lit("</html>")))
          .select(col("doc_id"), col("base").as("url"),
            expr("html_meta(html2)").as("hm"),
            expr("transform(html_anchors(html2)," +
              " a -> url_normalize(url_resolve(base, a.href)))").as("links0"))
          .select(to_json(struct(
            col("doc_id"), col("url"),
            col("hm.title").as("title"), col("hm.lang").as("lang"),
            size(col("links0")).as("n_links"),
            sort_array(col("links0")).as("links"))).as("value"))
          .coalesce(4)
          .write.mode("overwrite").text(out)
        s.read.json(out)
          .select(col("doc_id"), col("url"), col("title"), col("lang"),
            col("n_links").cast("int"),
            // scalar-encode the link array (c18 convention) so the
            // driver oracle can hash the row; the JSONL artifact on
            // disk keeps the real array form.
            array_join(col("links"), "").as("links"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL),
        f AS (SELECT doc_id, source, toks FROM d WHERE len(toks) >= 6),
        j AS (SELECT doc_id,
            'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR)
              AS url,
            'Page ' || CAST(doc_id AS VARCHAR) AS title,
            list_sort(list_value(
              'https://' || source || '.example.com/p/'
                || CAST(doc_id - doc_id % 5 AS VARCHAR),
              'https://' || source || '.example.com/top',
              'https://' || source || '.example.com/abs/'
                || CAST(doc_id % 7 AS VARCHAR))) AS links
          FROM f)
        SELECT w.doc_id, w.url, w.title, w.lang,
          CAST(w.n_links AS INT) AS n_links,
          array_to_string(w.links, chr(31)) AS links
        FROM read_json_auto('$scratch/wat_${LlmPipeline.SfToken}/part-*') w
        JOIN j ON w.doc_id = j.doc_id
        WHERE w.url = j.url AND w.title = j.title AND w.lang = 'en'
          AND w.links = j.links
        ORDER BY w.doc_id""")),

    // E67 — page-metadata extraction (functions.HtmlMeta): the WAT-stage
    // fields next to e54's outlinks — title, meta description, html
    // lang, meta-declared charset — as ONE struct-returning codegen
    // scalar sharing html_text's tag discipline. The fixture page per
    // document plants every trap class: a commented-out decoy title AND
    // a commented-out <meta charset=klingon> (both must not extract), a
    // document.write('<title>') inside script RAWTEXT, a quoted-'>'
    // attribute before the real title, double-spaced entity-bearing
    // title/description (decode once, collapse, trim), a SECOND title
    // that must lose to the first, shouting-case attribute names
    // (CHARSET=, Description), and both charset declaration forms
    // (charset attr / http-equiv content-type) plus a non-content-type
    // http-equiv that must yield nothing. html_meta reports the charset
    // FIELD as authored (lowercased, unfolded) — the byte-level prescan
    // in e44d is the one that folds labels for decoding. Scan-local
    // projection, zero shuffle at any scale.
    "e67_html_meta" -> QueryDef(
      (s, dir) => {
        val m = col("m")
        t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 14)
          .withColumn("m", (col("doc_id") % 5).cast("int"))
          .withColumn("langAttr",
            when(col("doc_id") % 2 === 0, lit("EN-us")).otherwise(lit("fr")))
          .withColumn("csMeta",
            when(m === 0, lit("<meta charset=\"UTF-8\">"))
              .when(m === 1, lit("<meta http-equiv=\"Content-Type\"" +
                " content=\"text/html; charset=Windows-1252\">"))
              .when(m === 3, lit("<meta CHARSET=iso-8859-1>"))
              .when(m === 4, lit("<meta http-equiv=\"refresh\" content=\"5\">"))
              .otherwise(lit("")))
          .withColumn("html", concat(
            lit("<html lang=\""), col("langAttr"), lit("\"><head>"),
            lit("<!-- <title>ghost</title><meta charset=klingon> -->"),
            col("csMeta"),
            lit("<div data-x=\"a>b\"></div>"),
            lit("<script>document.write('<title>js</title>')</script>"),
            lit("<title>  "), array_join(slice(col("toks"), 1, 5), " "),
            lit("  &amp;  x  </title>"),
            lit("<meta name=\"Description\" content=\""),
            array_join(slice(col("toks"), 11, 4), " "),
            lit(" &amp; tail\"><title>second</title></head>"),
            lit("<body><p>body</p></body></html>")))
          .select(col("doc_id"), expr("html_meta(html)").as("hm"))
          .select(col("doc_id"),
            col("hm.title").as("title"),
            col("hm.description").as("description"),
            col("hm.lang").as("lang"),
            col("hm.charset").as("charset"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL),
        f AS (SELECT doc_id, toks, CAST(doc_id % 5 AS INT) AS m
          FROM d WHERE len(toks) >= 14)
        SELECT doc_id,
          array_to_string(toks[1:5], ' ') || ' & x' AS title,
          array_to_string(toks[11:14], ' ') || ' & tail' AS description,
          CASE WHEN doc_id % 2 = 0 THEN 'en-us' ELSE 'fr' END AS lang,
          CASE m WHEN 0 THEN 'utf-8' WHEN 1 THEN 'windows-1252'
            WHEN 3 THEN 'iso-8859-1' ELSE NULL END AS charset
        FROM f ORDER BY doc_id""")),

    // E44d — the IN-DOCUMENT rung of the WHATWG encoding sniffer
    // (functions.MetaCharset): e44b applies the TRANSPORT declaration,
    // e44c the no-declaration cascade; real header-less HTML mostly
    // declares its charset in a <meta>, which browsers find by
    // prescanning the first 1024 BYTES before any decode. The cascade
    // here is BOM → meta prescan → strict UTF-8 validation →
    // windows-1252, and the branch set proves each precedence edge:
    // the mojibake branch (VALID UTF-8 bytes declaring windows-1252
    // must decode as 1252 — declaration outranks validity, exactly as
    // browsers render it), BOM outranking a contradicting meta, an
    // unknown label (klingon) falling through, a comment-hidden meta
    // not counting, a meta past the 1024-byte window not counting, and
    // the Encoding-Standard folds (utf-16 label → utf-8 on a byte
    // stream, iso-8859-1 family → windows-1252 via e44c's C1 rule).
    // Labels report their rung: prescan labels are Encoding-Standard
    // lowercase, BOM/validation labels java-canonical uppercase — the
    // label itself says which rung fired. Scan-local projection.
    "e44d_meta_prescan" -> QueryDef(
      (s, dir) => {
        val m = col("m")
        t(s, dir, "documents").filter(col("text").isNotNull)
          .withColumn("m", (col("doc_id") % 8).cast("int"))
          .withColumn("pre",
            when(m === 0, lit("<meta charset=windows-1252>"))
              .when(m === 1, lit("<meta http-equiv=\"Content-Type\"" +
                " content=\"text/html; charset=Windows-1252\">"))
              .when(m === 2, lit(""))
              .when(m === 3, lit("<meta charset=windows-1252>"))
              .when(m === 4, lit("<meta charset=klingon>"))
              .when(m === 5, lit("<!--<meta charset=utf-8>-->"))
              .when(m === 6, concat(expr("repeat('x', 1040)"),
                lit("<meta charset=windows-1252>")))
              .otherwise(lit("<meta charset=UTF-16>")))
          .withColumn("bin", concat(
            when(m === 3, unhex(lit("EFBBBF"))).otherwise(unhex(lit(""))),
            encode(concat(col("pre"), col("text")), "UTF-8"),
            when(m.isin(0, 4, 5), unhex(lit("2093948596")))
              .otherwise(unhex(lit("20C3A9E282AC")))))
          .select(col("doc_id"),
            expr("meta_charset(bin)").as("meta_label"),
            expr("detect_charset_html(bin)").as("charset"),
            expr("sniff_text_html(bin)").as("text_out"))
          .withColumn("n_chars", length(col("text_out")))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, text, CAST(doc_id % 8 AS INT) AS m
          FROM documents WHERE text IS NOT NULL),
        c AS (SELECT doc_id, m,
          CASE m
            WHEN 0 THEN '<meta charset=windows-1252>'
            WHEN 1 THEN '<meta http-equiv="Content-Type" content="text/html; charset=Windows-1252">'
            WHEN 2 THEN ''
            WHEN 3 THEN '<meta charset=windows-1252>'
            WHEN 4 THEN '<meta charset=klingon>'
            WHEN 5 THEN '<!--<meta charset=utf-8>-->'
            WHEN 6 THEN repeat('x', 1040) || '<meta charset=windows-1252>'
            ELSE '<meta charset=UTF-16>' END || text ||
          CASE WHEN m IN (0, 4, 5)
            THEN ' ' || chr(8220) || chr(8221) || chr(8230) || chr(8211)
            WHEN m = 1
            THEN ' ' || chr(195) || chr(169) || chr(226) || chr(8218) || chr(172)
            ELSE ' ' || chr(233) || chr(8364) END AS text_out
          FROM d)
        SELECT d.doc_id,
          CASE d.m WHEN 0 THEN 'windows-1252' WHEN 1 THEN 'windows-1252'
            WHEN 3 THEN 'windows-1252' WHEN 7 THEN 'utf-8'
            ELSE NULL END AS meta_label,
          CASE d.m WHEN 0 THEN 'windows-1252' WHEN 1 THEN 'windows-1252'
            WHEN 2 THEN 'UTF-8' WHEN 3 THEN 'UTF-8' WHEN 4 THEN 'windows-1252'
            WHEN 5 THEN 'windows-1252' WHEN 6 THEN 'UTF-8'
            ELSE 'utf-8' END AS charset,
          c.text_out,
          CAST(length(c.text_out) AS INT) AS n_chars
        FROM d JOIN c ON d.doc_id = c.doc_id ORDER BY d.doc_id"""))
  )
}
