package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Urls
import graft.sources.WarcReader

import QueryHelpers.{stagingFingerprint, t, widen}

/** Crawl: WARC/WET sources, charset sniffing, HTML and PDF extraction, URL
  * canonicalization, robots rules and the crawl frontier.
  */
object CrawlQueries {

  /** ONE generator for the HTML fixture page (the jpegFixtureRecord
    * discipline — text_html_extract and pipeline_warc_html share it, and
    * both oracles re-derive the same block structure): title and h1 carry
    * "Doc id", the document text rides one escaped `<p>`, two links and a
    * footer paragraph follow, and the head carries markup-shaped script /
    * style / comment content that must stay dead.
    */
  private[graft] def htmlFixturePage(id: Long, text: String): String = {
    val body = graft.ops.Html.escapeText(Option(text).getOrElse(""))
    s"""<!DOCTYPE html><html><head><title>Doc $id</title>
       |<style>p { content: "</p> not text"; }</style>
       |<script type="text/js">var s = "<p>fake</p>"; if (a<b && c>d) {}</script>
       |</head><body><!-- <div>hidden</div> -->
       |<h1 class="t" data-x="a>b">Doc $id</h1>
       |<p>$body</p>
       |<p><a href="/doc/${id + 1}">next</a> <a href='https://ex.com/${id % 7}'>more</a></p>
       |<p>footer &amp; fin</p></body></html>""".stripMargin
  }

  /** DuckDB spelling of the text [[htmlFixturePage]] must extract to:
    * title block, h1 block, collapsed document text (dropped when
    * empty), the link-anchor block, the footer block. RE2 `\s` is
    * exactly the extractor's `[ \t\n\r\f]` collapse class.
    */
  private val duckHtmlText: String =
    "'Doc ' || doc_id || chr(10) || 'Doc ' || doc_id || chr(10) || " +
      "(CASE WHEN trim(regexp_replace(text, '\\s+', ' ', 'g')) = '' THEN '' " +
      "ELSE trim(regexp_replace(text, '\\s+', ' ', 'g')) || chr(10) END) || " +
      "'next more' || chr(10) || 'footer & fin'"

  /** WARC fixture shards for source_warc / source_wet, staged once per
    * (sfDir, source fingerprint) — the stagedBmpCorpus discipline:
    * encode is scaffolding, the timed path is binaryFile scan →
    * member inflate → framing walk. 8 shards of the Common Crawl
    * member-per-record layout; every third response chunked, every
    * fifth document also gets a WET conversion record.
    */
  private def stagedWarcCorpus(s: SparkSession, dir: String): String = {
    val staged = s"${System.getProperty("java.io.tmpdir")}/graft_warc_" +
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      stagingFingerprint(dir, "documents.parquet")
    val stagedPath = java.nio.file.Paths.get(staged)
    if (!java.nio.file.Files.exists(stagedPath)) {
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val tmp = java.nio.file.Files.createTempDirectory(
        stagedPath.getParent, ".warc_staging")
      (0 until 8).foreach { shard =>
        val recs = Seq(WarcReader.WriteRec("warcinfo", "",
          "2026-01-01T00:00:00Z", 0, "",
          s"software: graft\r\nshard: $shard\r\n"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))) ++
          docs.filter(_._1 % 8 == shard).flatMap { case (id, text) =>
            val body = Option(text).getOrElse("")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val uri = s"http://corpus.example/doc/$id"
            val resp = WarcReader.WriteRec("response", uri,
              "2026-01-01T00:00:00Z", 200, "text/html; charset=utf-8",
              body, chunked = id % 3 == 0)
            val wet =
              if (id % 5 == 0)
                Seq(WarcReader.WriteRec("conversion", uri,
                  "2026-01-01T00:00:00Z", 0, "", body))
              else Seq.empty
            resp +: wet
          }
        java.nio.file.Files.write(
          tmp.resolve(f"crawl-shard-$shard%02d.warc.gz"),
          WarcReader.writeShardGz(recs))
      }
      try java.nio.file.Files.move(tmp, stagedPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { // a concurrent run staged it first — theirs is identical
        case _: java.nio.file.FileAlreadyExistsException =>
          tmp.toFile.listFiles().foreach(_.delete())
          java.nio.file.Files.deleteIfExists(tmp)
      }
    }
    staged
  }

  /** Deterministic raw-URL builder over `documents` — ONE snippet valid in
    * both Spark SQL and DuckDB (concat/CASE/% only), so both engines build
    * byte-identical inputs and the oracle tests the NORMALIZER, not the
    * generator. Exercises: mixed-case scheme/host, www/m. subdomains,
    * default and non-default ports, trailing slashes, utm_* params (alone,
    * first, last), fragments, and cross-doc canonical collisions.
    */
  private val rawUrlSql: String =
    """concat(
      | CASE doc_id % 3 WHEN 0 THEN 'https://' WHEN 1 THEN 'http://' ELSE 'HTTPS://' END,
      | CASE doc_id % 4 WHEN 0 THEN '' WHEN 1 THEN 'www.' WHEN 2 THEN 'WWW.' ELSE 'm.' END,
      | source, '.example',
      | CASE doc_id % 2 WHEN 0 THEN '.com' ELSE '.ORG' END,
      | CASE doc_id % 5 WHEN 0 THEN ':443' WHEN 1 THEN ':8080' ELSE '' END,
      | '/p', CAST(doc_id % 50 AS STRING),
      | CASE doc_id % 6 WHEN 0 THEN '/' ELSE '' END,
      | CASE doc_id % 7
      |   WHEN 0 THEN concat('?utm_source=feed&id=', CAST(doc_id % 11 AS STRING))
      |   WHEN 1 THEN concat('?id=', CAST(doc_id % 11 AS STRING), '&utm_campaign=x')
      |   WHEN 2 THEN concat('?id=', CAST(doc_id % 11 AS STRING))
      |   WHEN 3 THEN '?utm_medium=email'
      |   ELSE '' END,
      | CASE doc_id % 8 WHEN 0 THEN '#frag' ELSE '' END)""".stripMargin.replace("\n", " ")

  val all: Seq[Query] = Seq(

    // Crawl governance: RFC 9309 robots.txt decisions over the frontier
    // (ops/Robots). The per-host robots table is tiny next to the URL
    // table, so the rule lookup is a BROADCAST join — the decision runs
    // map-side, no shuffle of the frontier at any scale. The fixture
    // exercises group selection (graftbot's own group vs *), longest-
    // match precedence (/private/open over /private), and the
    // wildcard-$ rule; the oracle hand-evaluates the RFC per the
    // deterministic (agent, path) menu.
    Query("governance_robots", (s, dir) => {
      import graft.ops.Robots
      val robotsBody =
        "# corpus fixture\r\nUser-agent: *\nDisallow: /private\n" +
          "Allow: /private/open\nDisallow: /tmp*.log$\n\n" +
          "User-agent: graftbot\nCrawl-delay: 2\nDisallow: /doc/\n"
      val urls = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
        .withColumn("host", concat(lit("h"), pmod(col("doc_id"), lit(5))))
        .withColumn("agent", when(pmod(col("doc_id"), lit(2)) === 0,
          lit("graftbot")).otherwise(lit("otherbot")))
        .withColumn("path",
          when(expr("(doc_id div 2) % 4 = 0"),
            concat(lit("/doc/"), col("doc_id")))
          .when(expr("(doc_id div 2) % 4 = 1"),
            concat(lit("/private/"), col("doc_id")))
          .when(expr("(doc_id div 2) % 4 = 2"),
            concat(lit("/private/open/"), col("doc_id")))
          .otherwise(concat(lit("/tmp"), col("doc_id"), lit(".log"))))
      val robots = s.range(0, 5)
        .select(concat(lit("h"), col("id")).as("host"),
          lit(robotsBody).as("robots_body"))
      urls.join(broadcast(robots), "host")
        .select(col("doc_id"), col("agent"), col("path"),
          Robots.robotsAllowed(col("robots_body"), col("agent"), col("path"))
            .cast("int").as("allowed"))
        .orderBy("doc_id")
    },
      // hand-evaluated RFC 9309: graftbot sees only its own group
      // (Disallow /doc/), otherbot falls to * (Disallow /private + the
      // /private/open carve-out + the anchored /tmp*.log$)
      oracle = """SELECT doc_id::BIGINT AS doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'graftbot' ELSE 'otherbot' END AS agent,
        |  CASE (doc_id // 2) % 4
        |    WHEN 0 THEN '/doc/' || doc_id
        |    WHEN 1 THEN '/private/' || doc_id
        |    WHEN 2 THEN '/private/open/' || doc_id
        |    ELSE '/tmp' || doc_id || '.log' END AS path,
        |  CASE WHEN doc_id % 2 = 0
        |    THEN CASE WHEN (doc_id // 2) % 4 = 0 THEN 0 ELSE 1 END
        |    ELSE CASE WHEN (doc_id // 2) % 4 IN (1, 3) THEN 0 ELSE 1 END
        |  END AS allowed
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // URL canonicalization: raw → canonical + registered domain. The
    // normalizer (ops/Urls.scala) is pure codegen'd regex/string built-ins.
    Query("url_normalize", (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("raw_url", expr(rawUrlSql))
      docs.select(col("doc_id"), col("raw_url"),
          Urls.canonicalize(col("raw_url")).as("url_canon"),
          Urls.registeredDomain(col("raw_url")).as("domain"))
        .orderBy("doc_id")
    },
      oracle = s"""WITH u AS (SELECT doc_id, $rawUrlSql AS raw_url FROM documents),
         | p AS (SELECT doc_id, raw_url,
         |   lower(regexp_extract(raw_url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
         |   regexp_replace(lower(regexp_extract(raw_url, '^[^:/?#]+://([^/?#:]+)', 1)), '^www\\.', '') AS hst,
         |   regexp_extract(raw_url, '^[^:/?#]+://[^/?#:]+:([0-9]+)', 1) AS prt,
         |   regexp_extract(raw_url, '^[^:/?#]+://[^/?#]+([^?#]*)', 1) AS pth0,
         |   regexp_extract(raw_url, '^[^#?]*\\?([^#]*)', 1) AS qry
         |   FROM u),
         | c AS (SELECT doc_id, raw_url, sch, hst,
         |   CASE WHEN prt <> '' AND NOT (sch = 'https' AND prt = '443')
         |             AND NOT (sch = 'http' AND prt = '80')
         |        THEN ':' || prt ELSE '' END AS prtpart,
         |   CASE WHEN regexp_replace(pth0, '/+$$', '') = '' THEN '/'
         |        ELSE regexp_replace(pth0, '/+$$', '') END AS pth,
         |   coalesce(array_to_string(list_filter(string_split(qry, '&'),
         |     x -> NOT starts_with(x, 'utm_')), '&'), '') AS qkept
         |   FROM p)
         | SELECT doc_id, raw_url,
         |   sch || '://' || hst || prtpart || pth ||
         |     CASE WHEN qkept = '' THEN '' ELSE '?' || qkept END AS url_canon,
         |   regexp_extract(hst, '([^.]+\\.[^.]+)$$', 1) AS domain
         | FROM c ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Dedup by canonical URL (keep-first): the first-line dedup of a web
    // corpus — one hash shuffle on the canonical string key.
    Query("url_dedup", (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("raw_url", expr(rawUrlSql))
      docs.select(col("doc_id"), Urls.canonicalize(col("raw_url")).as("url_canon"))
        .groupBy("url_canon")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_docs"))
        .orderBy("url_canon")
    },
      oracle = s"""WITH u AS (SELECT doc_id, $rawUrlSql AS raw_url FROM documents),
         | p AS (SELECT doc_id, raw_url,
         |   lower(regexp_extract(raw_url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
         |   regexp_replace(lower(regexp_extract(raw_url, '^[^:/?#]+://([^/?#:]+)', 1)), '^www\\.', '') AS hst,
         |   regexp_extract(raw_url, '^[^:/?#]+://[^/?#:]+:([0-9]+)', 1) AS prt,
         |   regexp_extract(raw_url, '^[^:/?#]+://[^/?#]+([^?#]*)', 1) AS pth0,
         |   regexp_extract(raw_url, '^[^#?]*\\?([^#]*)', 1) AS qry
         |   FROM u),
         | c AS (SELECT doc_id,
         |   sch || '://' || hst ||
         |   CASE WHEN prt <> '' AND NOT (sch = 'https' AND prt = '443')
         |             AND NOT (sch = 'http' AND prt = '80')
         |        THEN ':' || prt ELSE '' END ||
         |   CASE WHEN regexp_replace(pth0, '/+$$', '') = '' THEN '/'
         |        ELSE regexp_replace(pth0, '/+$$', '') END ||
         |   CASE WHEN coalesce(array_to_string(list_filter(string_split(qry, '&'),
         |          x -> NOT starts_with(x, 'utm_')), '&'), '') = '' THEN ''
         |        ELSE '?' || coalesce(array_to_string(list_filter(string_split(qry, '&'),
         |          x -> NOT starts_with(x, 'utm_')), '&'), '') END AS url_canon
         |   FROM p)
         | SELECT url_canon, min(doc_id) AS keep_id, count(*) AS n_docs
         | FROM c GROUP BY url_canon ORDER BY url_canon""".stripMargin.replace("\n", " ")),

    // Per-domain rollup: URL inventory + doc counts — the report behind
    // domain blocklists and per-domain sampling quotas.
    Query("url_domain_stats", (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("raw_url", expr(rawUrlSql))
      docs.select(col("doc_id"),
          Urls.canonicalize(col("raw_url")).as("url_canon"),
          Urls.registeredDomain(col("raw_url")).as("domain"))
        .groupBy("domain")
        .agg(countDistinct("url_canon").as("n_urls"),
          count(lit(1)).as("n_docs"))
        .orderBy("domain")
    },
      oracle = s"""WITH u AS (SELECT doc_id, $rawUrlSql AS raw_url FROM documents),
         | p AS (SELECT doc_id, raw_url,
         |   lower(regexp_extract(raw_url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
         |   regexp_replace(lower(regexp_extract(raw_url, '^[^:/?#]+://([^/?#:]+)', 1)), '^www\\.', '') AS hst,
         |   regexp_extract(raw_url, '^[^:/?#]+://[^/?#:]+:([0-9]+)', 1) AS prt,
         |   regexp_extract(raw_url, '^[^:/?#]+://[^/?#]+([^?#]*)', 1) AS pth0,
         |   regexp_extract(raw_url, '^[^#?]*\\?([^#]*)', 1) AS qry
         |   FROM u),
         | c AS (SELECT doc_id,
         |   regexp_extract(hst, '([^.]+\\.[^.]+)$$', 1) AS domain,
         |   sch || '://' || hst ||
         |   CASE WHEN prt <> '' AND NOT (sch = 'https' AND prt = '443')
         |             AND NOT (sch = 'http' AND prt = '80')
         |        THEN ':' || prt ELSE '' END ||
         |   CASE WHEN regexp_replace(pth0, '/+$$', '') = '' THEN '/'
         |        ELSE regexp_replace(pth0, '/+$$', '') END ||
         |   CASE WHEN coalesce(array_to_string(list_filter(string_split(qry, '&'),
         |          x -> NOT starts_with(x, 'utm_')), '&'), '') = '' THEN ''
         |        ELSE '?' || coalesce(array_to_string(list_filter(string_split(qry, '&'),
         |          x -> NOT starts_with(x, 'utm_')), '&'), '') END AS url_canon
         |   FROM p)
         | SELECT domain, count(DISTINCT url_canon) AS n_urls, count(*) AS n_docs
         | FROM c GROUP BY domain ORDER BY domain""".stripMargin.replace("\n", " ")),

    // WARC crawl-shard ingest (sources/WarcReader): the format a 100 TB
    // text corpus actually arrives in (ISO 28500, Common Crawl's gzip-
    // member-per-record shard convention). The fixture corpus is staged
    // once per (sfDir, source fingerprint) as 8 multi-record .warc.gz
    // shards — one warcinfo + one HTTP response record per document
    // (every third response chunked-transfer-coded to exercise that
    // decode), plus a conversion (WET) record for every fifth doc — so
    // only the binaryFile scan + member inflate + framing walk + HTTP
    // parse are timed. The oracle is the documents table itself: a hash
    // match proves the full round trip (gzip members, CRLF framing,
    // Content-Length blocks, chunked decode, UTF-8 body) byte-exactly.
    Query("source_warc", (s, dir) => {
      WarcReader.records(s, stagedWarcCorpus(s, dir))
        .where(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          col("http_status").as("status"),
          octet_length(col("body")).cast("long").as("n_bytes"),
          decode(col("body"), "UTF-8").as("text"))
        .orderBy("doc_id")
    },
      // the staged WARC shards round-trip the documents table byte-exactly:
      // n_bytes is the UTF-8 length (DuckDB strlen = bytes, length = chars)
      oracle = """SELECT doc_id::BIGINT AS doc_id, 200 AS status,
        |        strlen(text)::BIGINT AS n_bytes, text
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // WET extracted-text records from the SAME staged shards: the
    // conversion-record path (text/plain block, no HTTP envelope) —
    // what a text-only pipeline reads instead of the raw responses.
    Query("source_wet", (s, dir) => {
      WarcReader.records(s, stagedWarcCorpus(s, dir))
        .where(col("warc_type") === "conversion")
        .select(
          regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          octet_length(col("body")).cast("long").as("n_bytes"),
          decode(col("body"), "UTF-8").as("text"))
        .orderBy("doc_id")
    },
      oracle = """SELECT doc_id::BIGINT AS doc_id,
        |        strlen(text)::BIGINT AS n_bytes, text
        | FROM documents WHERE doc_id % 5 = 0
        | ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // CONTINUOUS crawl ingestion: the same staged WARC shards replayed
    // as a binaryFile STREAM (2 shards per micro-batch) through the
    // identical parse stage (WarcReader.recordsOf is the shared
    // stateless flatMap) — proving the crawl source works as a live
    // feed, against the batch row's own oracle. No stateful operator,
    // so no state-store tuning: pure append at shard granularity.
    Query("streaming_replay_warc", (s, dir) => {
      val staged = stagedWarcCorpus(s, dir)
      val q = WarcReader.recordsStream(s, staged, maxFilesPerTrigger = 2)
        .where(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          col("http_status").as("status"),
          octet_length(col("body")).cast("long").as("n_bytes"),
          decode(col("body"), "UTF-8").as("text"))
        .writeStream.format("memory").queryName("streaming_replay_warc_sink")
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
      s.table("streaming_replay_warc_sink").orderBy("doc_id")
    },
      // the stream replays the batch corpus exactly → the batch oracle
      oracle = """SELECT doc_id::BIGINT AS doc_id, 200 AS status,
        |        strlen(text)::BIGINT AS n_bytes, text
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // HTML text extraction (ops/Html): the step between a crawl response
    // and the documents table (the C4/CCNet "extract" stage) — lenient
    // tokenizer (quoted '>', raw-text script/style, comments), entity
    // decode, block-structured text, title + link harvesting. The
    // fixture page embeds the document text escaped; the oracle
    // reconstructs the exact block structure, so a hash match proves
    // tokenizer + entities + whitespace contract end to end.
    Query("text_html_extract", (s, dir) => {
      import s.implicits._
      import graft.ops.Html
      t(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) => (id, htmlFixturePage(id, text)) }
        .toDF("doc_id", "page")
        .select(col("doc_id"),
          Html.htmlTitle(col("page")).as("title"),
          Html.htmlText(col("page")).as("text"),
          array_join(Html.htmlLinks(col("page")), ",").as("links_csv"))
        .orderBy("doc_id")
    },
      oracle = s"""SELECT doc_id::BIGINT AS doc_id, 'Doc ' || doc_id AS title,
         |        $duckHtmlText AS text,
         |        '/doc/' || (doc_id + 1) || ',https://ex.com/' || (doc_id % 7) AS links_csv
         | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Charset sniff + decode (ops/CharsetSniff): the step between raw
    // HTTP bodies and text — BOM beats header beats meta beats UTF-8
    // validation beats the windows-1252 browser fallback. Five delivery
    // modes rotate by id: labeled UTF-8, BOM'd UTF-8 under a LYING
    // header (BOM must win), BOM'd UTF-16LE with no header, unlabeled
    // UTF-8 (validation path), BOM'd UTF-16BE under a lying header.
    // Every mode recovers the text exactly, so the oracle is the
    // documents table + the expected label; the cp1252 mojibake
    // fallback is spec-pinned (CharsetSniffSpec) — it cannot be
    // SQL-reproduced byte-for-byte.
    Query("text_charset_sniff", (s, dir) => {
      import s.implicits._
      import graft.ops.CharsetSniff
      t(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .map { case (id, text0) =>
          val text = Option(text0).getOrElse("")
          val (payload, ct) = (id % 5) match {
            case 0 => (text.getBytes("UTF-8"), "text/html; charset=utf-8")
            case 1 => (Array(0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
              text.getBytes("UTF-8"), "text/html; charset=utf-16le")
            case 2 => (Array(0xff.toByte, 0xfe.toByte) ++
              text.getBytes("UTF-16LE"), null)
            case 3 => (text.getBytes("UTF-8"), "text/html")
            case _ => (Array(0xfe.toByte, 0xff.toByte) ++
              text.getBytes("UTF-16BE"), "text/plain; charset=utf-8")
          }
          (id, payload, ct)
        }
        .toDF("doc_id", "payload", "ct")
        .select(col("doc_id"),
          CharsetSniff.sniffDecoded(col("payload"), col("ct")).as("s"))
        .select(col("doc_id"), col("s.charset").as("charset"),
          col("s.text").as("text"))
        .orderBy("doc_id")
    },
      // every mode recovers the exact text; the label replays the
      // resolution order
      oracle = """SELECT doc_id::BIGINT AS doc_id,
        |  CASE doc_id % 5 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-8-bom'
        |    WHEN 2 THEN 'utf-16le-bom' WHEN 3 THEN 'utf-8'
        |    ELSE 'utf-16be-bom' END AS charset,
        |  text
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // PDF text extraction (ops/PdfText): the second big document-corpus
    // "extract" format next to HTML — object scan, /FlateDecode inflate
    // (every even id compressed), content tokenizer, BT/ET text-operator
    // walk with Tj/TJ (every third line a kerned TJ split) and literal /
    // UTF-16BE-hex strings (non-Latin-1 corpus languages). The fixture
    // paginates the document text (8 words/line, 5 lines/page) and the
    // oracle re-joins lines with spaces, so a hash match proves the
    // whole chain recovers the text exactly across pages, filters, and
    // scripts.
    Query("text_pdf_extract", (s, dir) => {
      import s.implicits._
      import graft.ops.PdfText
      widen(t(s, dir, "documents"))
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val collapsed = Option(text).getOrElse("")
            .replaceAll("[ \t\n\r\f]+", " ").trim
          val words =
            if (collapsed.isEmpty) Array.empty[String] else collapsed.split(" ")
          val lines = s"Doc $id" +: words.grouped(8).map(_.mkString(" ")).toSeq
          val pages = lines.grouped(5).map(_.toSeq).toSeq
          (id, PdfText.pdfBytes(pages, flate = id % 2 == 0))
        }
        .toDF("doc_id", "payload")
        .select(col("doc_id"),
          regexp_replace(graft.ops.PdfText.pdfText(col("payload")),
            "\n", " ").as("text"))
        .orderBy("doc_id")
    },
      // PDF pagination re-joined with spaces = the collapsed source text
      oracle = """WITH p AS (SELECT doc_id::BIGINT AS doc_id,
        |        trim(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents)
        | SELECT doc_id, 'Doc ' || doc_id ||
        |   (CASE WHEN t = '' THEN '' ELSE ' ' || t END) AS text
        | FROM p ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // MAIN-content extraction (Html.extractMainText): the trafilatura-
    // style step past tag stripping — chrome containers (nav/header/
    // aside/footer), majority-link blocks (menus, read-more rows), and
    // head metadata all drop; content blocks survive. The fixture
    // surrounds the document text with all three boilerplate kinds; the
    // oracle keeps exactly the heading, the text, and the one plain
    // closing paragraph — proving the drops are surgical, not greedy.
    Query("text_html_main", (s, dir) => {
      import s.implicits._
      import graft.ops.Html
      t(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val body = Html.escapeText(Option(text).getOrElse(""))
          (id,
            s"""<html><head><title>Doc $id</title><style>p{}</style></head><body>
               |<nav><a href="/">Home</a> | <a href="/about">About</a></nav>
               |<header><p>Site $id banner</p></header>
               |<h1>Doc $id</h1>
               |<p>$body</p>
               |<p><a href="/more/$id">continue reading</a></p>
               |<aside>Related: <a href="/r1">one</a> <a href="/r2">two</a></aside>
               |<p>closing remarks stay</p>
               |<footer>&copy; 2026 corpus.example</footer>
               |</body></html>""".stripMargin)
        }
        .toDF("doc_id", "page")
        .select(col("doc_id"),
          Html.htmlMainText(col("page")).as("text"))
        .orderBy("doc_id")
    },
      // chrome/link-dense/head blocks drop; what survives is the heading,
      // the document text, and the one plain closing paragraph
      oracle = """WITH p AS (SELECT doc_id::BIGINT AS doc_id,
        |        trim(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents)
        | SELECT doc_id, 'Doc ' || doc_id || chr(10) ||
        |   (CASE WHEN t = '' THEN '' ELSE t || chr(10) END) ||
        |   'closing remarks stay' AS text
        | FROM p ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // The crawl pipeline composed end to end: WARC bytes → framing walk
    // → HTTP split (every even id chunked) → HTML extraction — what a
    // 100 TB Common Crawl ingestion actually runs, per-record with no
    // shuffle until the downstream aggregations.
    Query("pipeline_warc_html", (s, dir) => {
      import s.implicits._
      import graft.ops.Html
      import graft.sources.WarcReader
      widen(t(s, dir, "documents"))
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          val shard = WarcReader.writeShardGz(Seq(WarcReader.WriteRec(
            "response", s"http://corpus.example/doc/$id",
            "2026-01-01T00:00:00Z", 200, "text/html; charset=utf-8",
            htmlFixturePage(id, text).getBytes("UTF-8"),
            chunked = id % 2 == 0)))
          val inflated = WarcReader.inflateShard(shard).get
          WarcReader.parseShard(s"doc$id", inflated)._1.map { r =>
            val html = new String(r.body, "UTF-8")
            (id, r.http_status.getOrElse(-1),
              Html.extractTitle(html), Html.extractText(html))
          }
        }
        .toDF("doc_id", "status", "title", "text")
        .orderBy("doc_id")
    },
      oracle = s"""SELECT doc_id::BIGINT AS doc_id, 200 AS status,
         |        'Doc ' || doc_id AS title, $duckHtmlText AS text
         | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // The crawl FRONTIER: harvested links (Html.extractLinks) resolved
    // against their page's base URL, minus everything already crawled —
    // the fetch list a crawler derives each cycle. Shapes: link
    // explosion is map-side; the anti-join shuffles on the url hash
    // (both sides huge at crawl scale — the one shuffle the operation
    // fundamentally needs); the count aggregation is partial-aggregable.
    // Oracle: every page links /doc/(id+1) (internal — crawled unless
    // id+1 is past the corpus edge) and https://ex.com/(id%7)
    // (external — never crawled), so the frontier is derivable in SQL.
    Query("pipeline_crawl_frontier", (s, dir) => {
      import s.implicits._
      import graft.ops.Html
      val pages = t(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          (id, s"http://corpus.example/doc/$id", htmlFixturePage(id, text))
        }
        .toDF("doc_id", "base_url", "page")
      val links = pages.select(col("base_url"),
          explode(Html.htmlLinks(col("page"))).as("href"))
        .select(Urls.resolveUrl(col("base_url"), col("href")).as("url"))
        .where(col("url").isNotNull)
      // the crawled set is the URL scheme itself — derive it from
      // doc_id directly instead of re-running the opaque page-building
      // map a second time (typed maps block column pruning, so a
      // `pages`-derived branch would rebuild every page string)
      val crawled = t(s, dir, "documents")
        .select(concat(lit("http://corpus.example/doc/"),
          col("doc_id").cast("long")).as("url"))
      links.join(crawled, Seq("url"), "left_anti")
        .groupBy("url").agg(count(lit(1)).as("n_refs"))
        .orderBy("url")
    },
      oracle = """WITH ext AS (SELECT 'https://ex.com/' || (doc_id % 7) AS url FROM documents),
        | intl AS (SELECT 'http://corpus.example/doc/' || (doc_id + 1) AS url
        |          FROM documents
        |          WHERE doc_id + 1 NOT IN (SELECT doc_id FROM documents)),
        | a AS (SELECT url FROM ext UNION ALL SELECT url FROM intl)
        | SELECT url, count(*)::BIGINT AS n_refs
        | FROM a GROUP BY url ORDER BY url""".stripMargin.replace("\n", " "))
  )
}
