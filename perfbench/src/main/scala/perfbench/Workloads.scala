package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.IngestJob
import graft.ingest.{FastIngest, Sinks}
import graft.sources.NtReader
import graft.streaming.StreamingIngest

/** The layers the traced run times, named after the repo modules whose
  * public calls each one wraps.
  */
object Layers {
  val ReadParse = "sources.read_parse"
  val Project = "ingest.project"
  val Group = "ingest.group"
  val Labels = "ingest.labels"
  val Enrich = "ingest.enrich"
  val Viaf = "ingest.viaf"
  val WriteFast = "sinks.write_fast"
  val WriteViaf = "sinks.write_viaf"
  val BuildDocs = "streaming.build_docs"
  val Merge = "streaming.merge"
  val All: Seq[String] = Seq(ReadParse, Project, Group, Labels, Enrich, Viaf,
    WriteFast, WriteViaf, BuildDocs, Merge)
}

/** What one traced run measured beside its spans: per-layer row counts,
  * the ratios named `<layer>.<ratio>`, and the check of its output.
  */
final case class TracedRun(rows: Map[String, Long], ratios: Map[String, Double],
                           verdict: Verdict)

/** A workload: prepared once per set-up, then run repeatedly. `run` returns the seconds of each unit a caller waits for
  * (one `runAll`, or one `mergeBatch` per batch); `check` judges the
  * output it left.
  */
trait Workload {
  def unitsPerRun: Int
  def prepare(): Unit
  def run(): Seq[Double]
  def check(): Verdict
  def traced(tr: Tracer, counters: TaskCounters): TracedRun
}

object Workload {
  def apply(name: String, spark: SparkSession, input: Path, work: Path): Workload = name match {
    case "fast_all" | "viaf_heavy" => new JobWorkload(spark, input, work)
    case "upsert_batches" => new UpsertWorkload(spark, input, work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private[perfbench] def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Persist and count: the traced run's way of making a layer do all of
    * its own work inside its span.
    */
  private[perfbench] def materialize(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  private[perfbench] def ratio(num: Long, den: Long): Double =
    if (den == 0) 0.0 else num.toDouble / den

  /** Every path under `p`, `p` first. */
  private def walk(p: Path): Seq[Path] =
    Using.resource(Files.walk(p))(_.iterator().asScala.toList)

  private[perfbench] def deleteTree(p: Path): Unit =
    if (Files.exists(p)) walk(p).sortBy(-_.getNameCount).foreach(Files.delete)

  private[perfbench] def copyTree(from: Path, to: Path): Unit =
    walk(from).foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    }

  private[perfbench] def treeBytes(p: Path): Long =
    walk(p).filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.endsWith(".crc")).map(Files.size).sum
}

/** `fast_all` and `viaf_heavy`: the paper's job, `IngestJob.runAll`, over
  * the 7-file layout and a VIAF table.
  */
final class JobWorkload(spark: SparkSession, input: Path, work: Path) extends Workload {
  import Workload._

  private val planted = Planted.read(input.resolve("planted.json").toString)
  private val viafPath = input.resolve("viaf.parquet").toString
  private val out = work.resolve("out")

  def unitsPerRun: Int = 1
  def prepare(): Unit = ()

  def check(): Verdict = Check.job(
    Sinks.readTable(spark, out.resolve("fast").toString),
    Sinks.readTable(spark, out.resolve("viaf").toString),
    spark.read.parquet(viafPath), planted)

  def run(): Seq[Double] = Seq(timed(IngestJob.runAll(spark, input.toString, out.toString,
    Some(spark.read.parquet(viafPath))))._2)

  // runAll's calls, re-composed one layer at a time (IngestJob keeps its
  // doc-type lists private)
  private val TermTypes = Seq("Chronological", "Event", "Form", "Geographic", "Topical")
  private val AgentTypes = Seq("Corporate", "Event", "Personal")

  def traced(tr: Tracer, counters: TaskCounters): TracedRun = {
    val files = IngestJob.RequiredFiles.map(f => input.resolve(f).toString)
    var rows = Map.empty[String, Long]
    def layer(name: String)(body: => (DataFrame, Long)): DataFrame =
      tr.span(name) { val (df, n) = body; rows += name -> n; df }
    val root = tr.span("ingest", jobGroup = false) {
      val parsed = layer(Layers.ReadParse)(materialize(NtReader.triplesTagged(spark, files: _*)))
      val frags = layer(Layers.Project)(materialize(FastIngest.project(parsed)))
      val termDocs = layer(Layers.Group)(materialize(
        FastIngest.buildDocsTagged(frags.where(col("doc_type").isin(TermTypes: _*)))
          .where(!(col("type") === "Event" && size(col("sameAsViaf")) > 0))))
      val labels = layer(Layers.Labels)(materialize(FastIngest.sameAsLabels(frags)))
      val docs = layer(Layers.Enrich)(materialize(FastIngest.enrich(termDocs, labels)))
      tr.span(Layers.WriteFast) {
        rows += Layers.WriteFast -> Sinks.writeFast(docs, out.resolve("fast").toString).rows
      }
      val otherIds = frags.where(col("doc_type").isin(AgentTypes: _*))
        .transform(FastIngest.agentOtherIds)
      val updated = layer(Layers.Viaf)(materialize(
        FastIngest.viafUpdate(otherIds, spark.read.parquet(viafPath))))
      tr.span(Layers.WriteViaf) {
        rows += Layers.WriteViaf -> Sinks.writeViaf(updated, out.resolve("viaf").toString).rows
      }
      (parsed, frags, termDocs, labels, docs, updated, otherIds)
    }
    val (parsed, frags, termDocs, labels, docs, updated, otherIds) = root
    // ratios, outside every span
    val linked = termDocs.where(size(col("sameAsLc")) + size(col("sameAsViaf")) > 0).count()
    val hit = termDocs.select(col("_id"), explode(concat(col("sameAsViaf"), col("sameAsLc"))).as("uri"))
      .join(labels, col("uri") === labels("subject"), "left_semi")
      .select("_id").distinct().count()
    val viafKeys = spark.read.parquet(viafPath)
      .select(explode(array(col("viaf"), col("lcId"))).as("k")).where(col("k").isNotNull)
    val attempted = otherIds.count()
    val matched = otherIds.join(viafKeys, col("otherId") === col("k"), "left_semi").count()
    val fastBytes = counters.byGroup().get(Layers.WriteFast).map(_.outputBytes).getOrElse(0L)
    val verdict = check()
    Seq(parsed, frags, termDocs, labels, docs, updated).foreach(_.unpersist())
    TracedRun(rows, Map(
      s"${Layers.Project}.keep_ratio" -> rows(Layers.Project).toDouble / planted.long("lines"),
      s"${Layers.Enrich}.hit_ratio" -> ratio(hit, linked),
      s"${Layers.Viaf}.match_ratio" -> ratio(matched, attempted),
      s"${Layers.WriteFast}.bytes_per_row" -> ratio(fastBytes, rows(Layers.WriteFast))),
      verdict)
  }
}

/** `upsert_batches`: a base table, then a stream of small NT batches, each
  * built into docs and merged in turn, as `StreamingIngest.start` does per
  * micro-batch.
  */
final class UpsertWorkload(spark: SparkSession, input: Path, work: Path) extends Workload {
  import Workload._

  private val planted = Planted.read(input.resolve("planted.json").toString)
  private val base = work.resolve("base")
  private val table = work.resolve("table")
  private val batches = Using.resource(Files.list(input.resolve("batches")))(
    _.iterator().asScala.map(_.toString).toList.sorted)
  private val DocType = lit("Topical")

  def unitsPerRun: Int = batches.size

  private def docsOf(file: String): DataFrame =
    FastIngest.buildDocs(FastIngest.project(NtReader.triples(spark, file)), DocType)

  /** The base table, built by merging the base file into an empty table. */
  def prepare(): Unit = {
    deleteTree(base)
    StreamingIngest.mergeBatch(spark,
      docsOf(input.resolve("base").resolve("FASTTopical.nt").toString), base.toString)
  }

  private def resetTable(): Unit = { deleteTree(table); copyTree(base, table) }

  def check(): Verdict = Check.upsert(spark.read.parquet(table.toString), planted)

  def run(): Seq[Double] = {
    resetTable()
    batches.map(b => timed(StreamingIngest.mergeBatch(spark, docsOf(b), table.toString))._2)
  }

  def traced(tr: Tracer, counters: TaskCounters): TracedRun = {
    resetTable()
    var rows = Map.empty[String, Long].withDefaultValue(0L)
    val kept = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def layer(name: String)(body: => (DataFrame, Long)): DataFrame =
      tr.span(name) { val (df, n) = body; rows += name -> (rows(name) + n); kept += df; df }
    val batchDocs = tr.span("stream", jobGroup = false) {
      batches.map { b =>
        val triples = layer(Layers.ReadParse)(materialize(NtReader.triples(spark, b)))
        val frags = layer(Layers.Project)(materialize(FastIngest.project(triples)))
        val docs = layer(Layers.BuildDocs)(materialize(FastIngest.buildDocs(frags, DocType)))
        tr.span(Layers.Merge)(StreamingIngest.mergeBatch(spark, docs, table.toString))
        docs
      }
    }
    // ratios, outside every span: buckets each batch touched (the table's
    // bucket function, as mergeBatch computes it), and the parquet size of
    // each batch's incoming docs
    val buckets = StreamingIngest.DefaultBuckets
    val touched = batchDocs.map { d =>
      d.select(pmod(xxhash64(col("_id")), lit(buckets.toLong))).distinct().count()
    }
    val incoming = work.resolve("incoming")
    val incomingBytes = batchDocs.map { d =>
      deleteTree(incoming)
      d.write.parquet(incoming.toString)
      treeBytes(incoming)
    }.sum
    val merge = counters.byGroup().getOrElse(Layers.Merge, new Totals)
    rows += Layers.Merge -> merge.outputRecords
    val verdict = check()
    kept.foreach(_.unpersist())
    TracedRun(rows, Map(
      s"${Layers.Merge}.touched_bucket_frac" -> ratio(touched.sum, buckets.toLong * touched.size),
      s"${Layers.Merge}.write_amp" -> ratio(merge.outputBytes, incomingBytes)),
      verdict)
  }
}
