package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.ingest.FastIngest

import QueryHelpers.{normSql, ntFromPart, stagingFingerprint, t, widen}

/** The paper's job as graded queries: N-Triples parse and quarantine, the FAST
  * term documents, the VIAF update, the merge of conflicting documents, the
  * upsert sink, and the readers for the other source formats.
  */
object IngestQueries {

  /** DuckDB spelling of [[graft.functions.Normalize.singularize]] (same rule
    * chain, regex-for-regex; irregular final-token branches generated from
    * the SAME map so the engines cannot drift). `$n` must be a pure
    * expression (re-evaluated).
    */
  private def singSql(n: String): String = {
    val irregulars = graft.functions.Normalize.Irregulars.toSeq.sorted
      .map { case (plural, singular) =>
        s"WHEN regexp_matches($n, '(^| )$plural$$') THEN regexp_replace($n, '$plural$$', '$singular')"
      }.mkString(" ")
    s"""(CASE $irregulars
       | WHEN regexp_matches($n, '[a-z]ies$$') THEN regexp_replace($n, 'ies$$', 'y')
       | WHEN regexp_matches($n, '(sses|ches|shes|xes|zes)$$') THEN regexp_replace($n, 'es$$', '')
       | WHEN regexp_matches($n, '(ss|[aiou]s)$$') THEN $n
       | WHEN regexp_matches($n, '[a-z0-9]s$$') THEN regexp_replace($n, 's$$', '')
       | ELSE $n END)""".stripMargin.replace("\n", " ")
  }

  private def nsSql(x: String): String = singSql(normSql(x))

  /** Relational mirror of the MergeFastDocs Aggregator over the two
    * conflicting projections: richness = |prefLabel|+|type|+Σ|array elems|;
    * richer doc's type wins (tie → lexicographically greater type).
    */
  private def mergeFastDocsOracle: String = {
    val nName = nsSql("p_name")
    val nType = nsSql("p_type")
    s"""SELECT CAST(p_partkey AS INTEGER) AS _id, CAST(p_partkey AS INTEGER) AS fast,
       | CASE WHEN length(p_name) + 7 + length(p_brand) + length($nName)
       |           >= 10 + length(p_type) + length($nType)
       |      THEN 'Topical' ELSE 'Geographic' END AS type,
       | p_name AS prefLabel,
       | to_json(list_sort(list_distinct([p_brand, p_type])))::VARCHAR AS altLabel,
       | to_json(CAST([] AS VARCHAR[]))::VARCHAR AS sameAsLc,
       | to_json(CAST([] AS VARCHAR[]))::VARCHAR AS sameAsViaf,
       | to_json(list_sort(list_distinct([$nName, $nType])))::VARCHAR AS normalized
       | FROM part ORDER BY _id""".stripMargin.replace("\n", " ")
  }

  /** Expected parse output reconstructed relationally (no string parsing). */
  private def ntLinesCte: String =
    """lines AS (
      |   SELECT 'http://id.worldcat.org/fast/' || p_partkey AS subject,
      |          'http://www.w3.org/2004/02/skos/core#prefLabel' AS predicate,
      |          '"' || p_name || '"' AS obj FROM part
      |   UNION ALL
      |   SELECT 'http://id.worldcat.org/fast/' || p_partkey,
      |          'http://www.w3.org/2004/02/skos/core#altLabel',
      |          '"' || p_brand || '"' FROM part
      |   UNION ALL
      |   SELECT 'http://id.worldcat.org/fast/' || p_partkey, 'http://schema.org/sameAs',
      |          '<http://viaf.org/viaf/' || (p_partkey * 7) || '>' FROM part WHERE p_partkey % 2 = 0
      |   UNION ALL
      |   SELECT 'http://id.worldcat.org/fast/' || p_partkey, 'http://schema.org/sameAs',
      |          '<http://id.loc.gov/authorities/names/lc' || p_partkey || '>' FROM part WHERE p_partkey % 3 = 0
      |   UNION ALL
      |   SELECT 'http://viaf.org/viaf/' || (p_partkey * 7),
      |          'http://www.w3.org/2000/01/rdf-schema#label',
      |          '"' || p_type || '"' FROM part WHERE p_partkey % 4 = 0
      |   UNION ALL
      |   SELECT 'http://id.worldcat.org/fast/NaN',
      |          'http://www.w3.org/2004/02/skos/core#prefLabel', '"Bad"' FROM part WHERE p_partkey % 25 = 0)
      |)""".stripMargin.replace("\n", " ").dropRight(1)

  private def ntParseOracle: String =
    s"WITH $ntLinesCte SELECT subject, predicate, obj FROM lines ORDER BY subject, predicate, obj"

  private def ntPredicateStatsOracle: String =
    s"""WITH $ntLinesCte,
       | tri AS (SELECT predicate, count(*) AS n_triples FROM lines GROUP BY predicate),
       | subj AS (SELECT predicate, count(*) AS n_subjects
       |   FROM (SELECT DISTINCT predicate, subject FROM lines) GROUP BY predicate)
       | SELECT tri.predicate, n_triples, n_subjects
       | FROM tri JOIN subj ON tri.predicate = subj.predicate
       | ORDER BY tri.predicate""".stripMargin.replace("\n", " ")

  /** The ingest pipeline's expected output, computed relationally. */
  private def fastDocsOracle: String = {
    val nName = nsSql("p_name")
    val nBrand = nsSql("p_brand")
    val nType = nsSql("p_type")
    s"""SELECT CAST(p_partkey AS INTEGER) AS _id, CAST(p_partkey AS INTEGER) AS fast, 'Topical' AS type,
       | p_name AS prefLabel,
       | to_json(list_sort(list_distinct(CASE WHEN p_partkey % 4 = 0 THEN [p_brand, p_type] ELSE [p_brand] END)))::VARCHAR AS altLabel,
       | to_json(CASE WHEN p_partkey % 3 = 0
       |      THEN list_sort(['http://id.loc.gov/authorities/names/lc' || p_partkey, 'lc' || p_partkey])
       |      ELSE [] END)::VARCHAR AS sameAsLc,
       | to_json(CASE WHEN p_partkey % 2 = 0
       |      THEN list_sort(['http://viaf.org/viaf/' || (p_partkey * 7), CAST(p_partkey * 7 AS VARCHAR)])
       |      ELSE [] END)::VARCHAR AS sameAsViaf,
       | to_json(list_sort(list_distinct(CASE WHEN p_partkey % 4 = 0 THEN [$nName, $nBrand, $nType]
       |                              ELSE [$nName, $nBrand] END)))::VARCHAR AS normalized
       | FROM part ORDER BY _id""".stripMargin.replace("\n", " ")
  }

  private def viafUpdateOracle: String =
    """SELECT 'v' || s_suppkey AS _id, CAST(s_suppkey * 7 AS VARCHAR) AS viaf,
      |        'lc' || s_suppkey AS lcId,
      |        to_json(CASE WHEN s_suppkey % 2 = 0 OR s_suppkey % 3 = 0
      |             THEN list_sort(list_distinct(
      |                    (CASE WHEN s_suppkey % 5 = 0 THEN [CAST(9999 AS INTEGER)] ELSE [] END)
      |                    || [CAST(s_suppkey AS INTEGER)]))
      |             WHEN s_suppkey % 5 = 0 THEN [CAST(9999 AS INTEGER)]
      |             ELSE NULL END)::VARCHAR AS fast
      | FROM supplier ORDER BY _id""".stripMargin.replace("\n", " ")

  val all: Seq[Query] = Seq(

    // K3/A4 merge-dedup: union two conflicting projections, keep the
    // "richest" (longest, then lexicographically greatest) name per key and
    // set-union the brands — the deterministic form of the reference's
    // error-driven merge (lib/ingest.js:134-165).
    Query("q9_merge_dedup", (s, dir) => {
      val part = t(s, dir, "part")
      val proj1 = part.select(col("p_partkey"), col("p_name"), lit("Brand#A").as("p_brand"))
      val proj2 = part.select(col("p_partkey"),
        when(col("p_partkey") % 2 === 0, concat(col("p_name"), lit(" extended")))
          .otherwise(substring(col("p_name"), 1, 4)).as("p_name"),
        col("p_brand"))
      proj1.union(proj2)
        .groupBy("p_partkey")
        .agg(
          max_by(col("p_name"), struct(length(col("p_name")), col("p_name"))).as("name_kept"),
          sort_array(collect_set(col("p_brand"))).as("brands"))
        .select(col("p_partkey"), col("name_kept"), to_json(col("brands")).as("brands"))
        .orderBy("p_partkey")
    },
      oracle = """WITH u AS (
        |   SELECT p_partkey, p_name, 'Brand#A' AS p_brand FROM part
        |   UNION ALL
        |   SELECT p_partkey,
        |          CASE WHEN p_partkey % 2 = 0 THEN p_name || ' extended' ELSE substr(p_name, 1, 4) END,
        |          p_brand FROM part),
        | g AS (
        |   SELECT p_partkey, max(length(p_name)) AS ml,
        |          list_sort(list_distinct(list(p_brand))) AS brands
        |   FROM u GROUP BY p_partkey)
        | SELECT g.p_partkey,
        |        (SELECT max(p_name) FROM u WHERE u.p_partkey = g.p_partkey AND length(u.p_name) = g.ml) AS name_kept,
        |        to_json(g.brands)::VARCHAR AS brands
        | FROM g ORDER BY g.p_partkey""".stripMargin.replace("\n", " ")),

    Query("q15_normalize", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Functions.normalizeSingular(col("text")).as("norm_text"))
        .orderBy("doc_id"),
      oracle = s"SELECT doc_id, ${nsSql("text")} AS norm_text FROM documents ORDER BY doc_id"),

    Query("q16_json", (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast(IntegerType).as("k_val"))
        .orderBy("event_id"),
      oracle = """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
        | FROM events ORDER BY event_id""".stripMargin.replace("\n", " ")),

    // ---- reference dataflow, end-to-end (SURVEY.md §2.1-2.4) ----
    Query("nt_parse", (s, dir) =>
      FastIngest.parse(ntFromPart(t(s, dir, "part")))
        .select(col("subject"), col("predicate"), col("obj"))
        .orderBy("subject", "predicate", "obj"),
      oracle = ntParseOracle),

    // RDF shape report: per-predicate triple counts + distinct subjects —
    // the first profiling query anyone runs on an unknown RDF dump
    // (which predicates exist, at what density). One grouped agg over the
    // parsed stream; distinct-subject via pre-dedup (no Expand).
    Query("nt_predicate_stats", (s, dir) => {
      val parsed = FastIngest.parse(ntFromPart(t(s, dir, "part")))
        .select(col("predicate"), col("subject"))
      val tri = parsed.groupBy("predicate").agg(count(lit(1)).as("n_triples"))
      val subj = parsed.distinct()
        .groupBy("predicate").agg(count(lit(1)).as("n_subjects"))
      tri.join(subj, "predicate").orderBy("predicate")
    },
      oracle = ntPredicateStatsOracle),

    // P5 quarantine: the malformed lines parse drops, surfaced as a side
    // channel (the demo corpus injects 'junk line N' rows — exactly those
    // must appear here, and nothing else).
    Query("nt_quarantine", (s, dir) =>
      FastIngest.quarantine(ntFromPart(t(s, dir, "part")))
        .select(col("line"))
        .orderBy("line"),
      oracle = """SELECT 'junk line ' || p_partkey AS line FROM part
        | WHERE p_partkey % 10 = 0 ORDER BY line""".stripMargin.replace("\n", " ")),

    Query("fast_docs", (s, dir) =>
      // widen + eager materialize together (VERDICT r16 #3): the one-split
      // fixture parse runs ONCE, parallel, in its own job; consumers read
      // the checkpoint (r16 measured widen-without-materialize 2× slower)
      FastIngest.termDocs(graft.ops.Iterate.materialize(FastIngest.project(FastIngest.parse(
          DemoCorpus.ntFromPart(t(s, dir, "part"), widen = true)
            .select(col("line"), lit("Topical").as("doc_type"))))).df)
        .select(col("_id"), col("fast"), col("type"), col("prefLabel"),
          to_json(col("altLabel")).as("altLabel"),
          to_json(col("sameAsLc")).as("sameAsLc"),
          to_json(col("sameAsViaf")).as("sameAsViaf"),
          to_json(col("normalized")).as("normalized"))
        .orderBy("_id"),
      oracle = fastDocsOracle),

    Query("viaf_update", (s, dir) => {
      // widen: the agent pipeline reads the fragment stream exactly once,
      // so parallelizing the one-split fixture parse is a pure win here
      // (see DemoCorpus.ntFromPart; 2.4 → 1.3 s interleaved A/B)
      val fragments = FastIngest.project(FastIngest.parse(
        DemoCorpus.ntFromPart(t(s, dir, "part"), widen = true)))
      val sup = t(s, dir, "supplier")
      val viaf = sup.select(
        concat(lit("v"), col("s_suppkey")).as("_id"),
        (col("s_suppkey") * 7).cast("string").as("viaf"),
        concat(lit("lc"), col("s_suppkey")).as("lcId"),
        when(col("s_suppkey") % 5 === 0, array(lit(9999))).as("fast"))
      FastIngest.viafUpdate(FastIngest.agentOtherIds(fragments), viaf)
        .select(col("_id"), col("viaf"), col("lcId"), to_json(col("fast")).as("fast"))
        .orderBy("_id")
    },
      oracle = viafUpdateOracle),

    // JSONL source round-trip: write the documents table as JSON-Lines,
    // read it back through the schema'd FAILFAST reader (TextTables), and
    // reproduce the parquet table bit-for-bit — proves the text-source
    // path (escaping, types) without trusting schema inference.
    Query("source_jsonl", (s, dir) => {
      val docs = t(s, dir, "documents")
      // run-unique dir: concurrent JVMs on the same sfDir must not race
      // on one overwrite-mode path
      val path = java.nio.file.Files.createTempDirectory("graft_jsonl_").toString
      graft.sources.TextTables.writeJsonl(docs, path)
      graft.sources.TextTables.readJsonl(s, docs.schema, path)
        .orderBy("doc_id")
    },
      oracle = """SELECT doc_id, text, lang, source, n_chars FROM documents
        | ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // CSV twin of source_jsonl (quote/escape config symmetric on both
    // sides; nullValue sentinel distinguishes null from empty string).
    Query("source_csv", (s, dir) => {
      val docs = t(s, dir, "documents")
      val path = java.nio.file.Files.createTempDirectory("graft_csv_").toString
      graft.sources.TextTables.writeCsv(docs, path)
      graft.sources.TextTables.readCsv(s, docs.schema, path)
        .orderBy("doc_id")
    },
      oracle = """SELECT doc_id, text, lang, source, n_chars FROM documents
        | ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Hive-style partitioned layout: write docs partitioned by lang, read
    // back with a partition predicate — the filter prunes DIRECTORIES
    // (PartitionFilters, zero I/O for other langs), the lake layout that
    // makes per-lang pipelines at 100 TB read only their shard.
    // PushdownSpec asserts the pruned plan; the oracle checks the rows.
    Query("source_partition_prune", (s, dir) => {
      val docs = t(s, dir, "documents")
      val path = java.nio.file.Files.createTempDirectory("graft_part_").toString
      docs.write.mode("overwrite").partitionBy("lang").parquet(path)
      s.read.parquet(path).where(col("lang") === "en")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
      oracle = """SELECT doc_id, text, lang, source, n_chars FROM documents
        | WHERE lang = 'en' ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // XML twin (Spark 4 native source): entity escaping on write, explicit
    // schema + FAILFAST on read — same contract as the other text sources.
    Query("source_xml", (s, dir) => {
      val docs = t(s, dir, "documents")
      val path = java.nio.file.Files.createTempDirectory("graft_xml_").toString
      graft.sources.TextTables.writeXml(docs, path)
      graft.sources.TextTables.readXml(s, docs.schema, path)
        .orderBy("doc_id")
    },
      oracle = """SELECT doc_id, text, lang, source, n_chars FROM documents
        | ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Schema evolution: files written before a column existed read as
    // NULL for it under mergeSchema — the lake contract that lets a
    // 100 TB table add columns without rewriting history.
    Query("source_evolution", (s, dir) => {
      val docs = t(s, dir, "documents")
      val path = java.nio.file.Files.createTempDirectory("graft_evo_").toString
      docs.where(col("doc_id") % 2 === 0)
        .select("doc_id", "text", "source", "n_chars") // v1: pre-`lang` era
        .write.mode("overwrite").parquet(s"$path/v1")
      docs.where(col("doc_id") % 2 === 1)              // v2: full schema
        .write.mode("overwrite").parquet(s"$path/v2")
      s.read.option("mergeSchema", "true").parquet(s"$path/v1", s"$path/v2")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
      oracle = """SELECT doc_id, text,
        |        CASE WHEN doc_id % 2 = 1 THEN lang ELSE NULL END AS lang,
        |        source, n_chars
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // ORC round-trip: the second columnar format (built into Spark; no
    // external package). Bit-exact against the parquet-sourced oracle —
    // same columnar guarantees, different container.
    Query("source_orc", (s, dir) => {
      val docs = t(s, dir, "documents")
      val path = java.nio.file.Files.createTempDirectory("graft_orc_").toString
      docs.write.mode("overwrite").orc(path)
      s.read.schema(docs.schema).orc(path)
        .orderBy("doc_id")
    },
      oracle = """SELECT doc_id, text, lang, source, n_chars FROM documents
        | ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // binaryFile source — THE Spark entry point for object-store media
    // corpora (image/audio shards arrive as files, not rows): one row
    // per file with (path, modificationTime, length, content),
    // distributed by file. A deterministic 25-file fixture is written at
    // call time so the scan is a real file scan; identity = name,
    // byte length, and content md5 (the oracle rebuilds all three
    // relationally — UTF-8 ASCII, so string length == byte length).
    Query("source_binary", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_binsrc_")
      (0 until 25).foreach { i =>
        java.nio.file.Files.write(tmp.resolve(f"f$i%02d.bin"),
          s"file-$i:payload-${i * i}".getBytes("UTF-8"))
      }
      s.read.format("binaryFile").load(tmp.toString)
        .select(
          regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
          col("length"),
          md5(col("content")).as("content_md5"))
        .orderBy("fname")
    },
      oracle = """SELECT printf('f%02d.bin', i) AS fname,
        |        length('file-' || i || ':payload-' || (i * i))::BIGINT AS length,
        |        md5('file-' || i || ':payload-' || (i * i)) AS content_md5
        | FROM range(0, 25) t(i) ORDER BY fname""".stripMargin.replace("\n", " ")),

    // Fixed-width (positional) source: the mainframe/enterprise feed
    // layout — no delimiter, columns are character ranges. The read is a
    // plain line scan + substring/trim/cast projection (whole-stage
    // codegen, splits per block); left-aligned text, right-aligned
    // numerics, all-blank = NULL. Fixture written by the query, oracle
    // rebuilds every field arithmetically.
    Query("source_fixed_width", (s, dir) => {
      import graft.sources.TextTables
      import graft.sources.TextTables.FixedCol
      val tmp = java.nio.file.Files.createTempDirectory("graft_fw_")
      val lines = (0 until 40).map { i =>
        val id = i.toString.padTo(6, ' ')
        val name = s"item-$i".padTo(12, ' ')
        val amt = (i * 37).toString.reverse.padTo(10, ' ').reverse
        s"$id$name$amt"
      }
      java.nio.file.Files.write(tmp.resolve("data.txt"),
        lines.mkString("\n").getBytes("UTF-8"))
      TextTables.readFixedWidth(s, tmp.toString, Seq(
          FixedCol("id", 1, 6, "long"),
          FixedCol("name", 7, 12),
          FixedCol("amount", 19, 10, "long")))
        .orderBy("id")
    },
      oracle = """SELECT i::BIGINT AS id, 'item-' || i AS name, (i * 37)::BIGINT AS amount
        | FROM range(0, 40) t(i) ORDER BY id""".stripMargin.replace("\n", " ")),

    // Gzip'd text ingest: the shape web corpora actually arrive in.
    // spark.read.text decodes .gz transparently via the codec registry —
    // but gzip is NOT splittable, so one file = one task; at 100 TB the
    // layout answer is many moderate shards (the standard WET/WARC
    // convention), never one giant archive.
    Query("source_gzip", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_gz_")
      val out = new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(tmp.resolve("part.txt.gz")))
      out.write((0 until 60).map(i => s"line-$i:${i * i}")
        .mkString("\n").getBytes("UTF-8"))
      out.close()
      s.read.text(tmp.toString)
        .select(
          regexp_extract(col("value"), "line-([0-9]+):", 1).cast("long").as("id"),
          col("value").as("line"))
        .orderBy("id")
    },
      oracle = """SELECT i::BIGINT AS id, 'line-' || i || ':' || (i * i) AS line
        | FROM range(0, 60) t(i) ORDER BY id""".stripMargin.replace("\n", " ")),

    // ZIP archive ingest — the reference's REAL input format
    // (`FASTAll.nt.zip`, download_data.sh:2-6; until now the one ingest
    // step still needing an out-of-band unzip): the NT fixture corpus is
    // staged once per (sfDir, source fingerprint) as a 3-entry zip —
    // staging is skipped on re-runs, so only the archive scan + decode +
    // parse are timed — read back through ZipReader (binaryFile +
    // per-archive ZipInputStream) and fed to the SAME FastIngest.parse
    // as nt_parse. The oracle IS nt_parse's oracle, so the row proves
    // the zipped round trip end to end.
    Query("source_zip", (s, dir) => {
      val staged = s"${System.getProperty("java.io.tmpdir")}/graft_zip_" +
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
        stagingFingerprint(dir, "part.parquet")
      val zipPath = java.nio.file.Paths.get(staged, "fast_all.nt.zip")
      if (!java.nio.file.Files.exists(zipPath)) {
        java.nio.file.Files.createDirectories(zipPath.getParent)
        val lines = DemoCorpus.ntFromPart(t(s, dir, "part"))
          .orderBy("line").collect().map(_.getString(0))
        val tmp = java.nio.file.Files.createTempFile(
          zipPath.getParent, ".staging", ".zip")
        val zout = new java.util.zip.ZipOutputStream(
          java.nio.file.Files.newOutputStream(tmp),
          java.nio.charset.StandardCharsets.UTF_8)
        try lines.grouped(math.max(1, (lines.length + 2) / 3))
          .zipWithIndex.foreach { case (chunk, i) =>
            zout.putNextEntry(new java.util.zip.ZipEntry(s"shard$i.nt"))
            zout.write(chunk.mkString("", "\n", "\n")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            zout.closeEntry()
          }
        finally zout.close()
        try java.nio.file.Files.move(tmp, zipPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { // a concurrent run staged it first — theirs is identical
          case _: java.nio.file.FileAlreadyExistsException =>
            java.nio.file.Files.deleteIfExists(tmp)
        }
      }
      FastIngest.parse(
          graft.sources.ZipReader.readLines(s, staged).select("line"))
        .select(col("subject"), col("predicate"), col("obj"))
        .orderBy("subject", "predicate", "obj")
    },
      // the zipped round trip must land on the identical parsed table
      oracle = ntParseOracle),

    // Typed-Aggregator merge (K3/A4): two conflicting doc projections of
    // `part`, merged through graft.ingest.MergeFastDocs.
    Query("merge_fast_docs", (s, dir) => {
      import s.implicits._
      import graft.model.FastDoc
      val part = t(s, dir, "part")
      val d1 = part.select(
        col("p_partkey").cast("int").as("_id"), col("p_partkey").cast("int").as("fast"),
        lit("Topical").as("type"), col("p_name").as("prefLabel"),
        array(col("p_brand")).as("altLabel"),
        array().cast("array<string>").as("sameAsLc"),
        array().cast("array<string>").as("sameAsViaf"),
        array(Functions.normalizeSingular(col("p_name"))).as("normalized"))
      val d2 = part.select(
        col("p_partkey").cast("int").as("_id"), col("p_partkey").cast("int").as("fast"),
        lit("Geographic").as("type"), lit(null).cast("string").as("prefLabel"),
        array(col("p_type")).as("altLabel"),
        array().cast("array<string>").as("sameAsLc"),
        array().cast("array<string>").as("sameAsViaf"),
        array(Functions.normalizeSingular(col("p_type"))).as("normalized"))
      d1.unionByName(d2).as[FastDoc]
        .groupByKey(_._id)
        .agg(graft.ingest.MergeFastDocs.toColumn.name("doc"))
        .map(_._2)
        .toDF()
        .select(col("_id"), col("fast"), col("type"), col("prefLabel"),
          to_json(col("altLabel")).as("altLabel"),
          to_json(col("sameAsLc")).as("sameAsLc"),
          to_json(col("sameAsViaf")).as("sameAsViaf"),
          to_json(col("normalized")).as("normalized"))
        .orderBy("_id")
    },
      oracle = mergeFastDocsOracle),

    // Deploy-shaped MERGE sink (the reference's upsert path,
    // `lib/ingest.js:134-165`, at deploy shape): replay three
    // micro-batches — create, update+insert, delete+upsert — through
    // Sinks.mergeInto's hash-bucketed dynamic-overwrite layout, then read
    // the final table back. The oracle computes the same per-key fold in
    // closed form (last-writer-wins with deletes), so a hash match proves
    // the multi-batch merge semantics end to end — previously this sink
    // was spec-only. Values are integer-derived (custkey), so the compare
    // is exact cross-engine.
    Query("sink_merge_into", (s, dir) => {
      val path = java.nio.file.Files.createTempDirectory("graft_sink_merge")
        .toString + "/t"
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey"))
      // batch 1 (create): every %3 key, v = custkey
      graft.ingest.Sinks.mergeInto(s, path,
        o.where(col("k") % 3 === 0).select(col("k"), col("o_custkey").as("v")),
        "k", numBuckets = 16)
      // batch 2 (update + insert): every %2 key, v = 2·custkey
      graft.ingest.Sinks.mergeInto(s, path,
        o.where(col("k") % 2 === 0)
          .select(col("k"), (col("o_custkey") * 2).as("v")),
        "k", numBuckets = 16)
      // batch 3 (delete + upsert): %5-only keys deleted (absent keys are
      // a no-op), %7 keys upserted to -1
      graft.ingest.Sinks.mergeInto(s, path,
        o.where(col("k") % 5 === 0 || col("k") % 7 === 0)
          .select(col("k"), lit(-1L).as("v"), (col("k") % 7 =!= 0).as("_del")),
        "k", numBuckets = 16, deleteCol = Some("_del"))
      graft.ingest.Sinks.readMerged(s, path).orderBy("k")
    },
      // closed-form twin of the 3-batch merge replay: per-key
      // last-writer-wins with deletes — %7 upserts (-1) win over %5
      // deletes, which win over batch 2's %2 doubles over batch 1's %3 base
      oracle = """SELECT o_orderkey AS k,
        |        CASE WHEN o_orderkey % 7 = 0 THEN -1
        |             WHEN o_orderkey % 2 = 0 THEN o_custkey * 2
        |             ELSE o_custkey END AS v
        | FROM orders
        | WHERE o_orderkey % 7 = 0
        |    OR (o_orderkey % 5 <> 0 AND (o_orderkey % 2 = 0 OR o_orderkey % 3 = 0))
        | ORDER BY k""".stripMargin.replace("\n", " "),
      informational = true)
  )
}
