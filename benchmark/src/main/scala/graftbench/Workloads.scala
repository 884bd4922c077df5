package graftbench

import java.io.{BufferedInputStream, File, FileInputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.{CorpusGen, WarcGen}
import graft.extract.{Extractor, HtmlExtractor, PdfExtractor}
import graft.job.{CommitStore, ExtractionJob, ParquetCommitStore, PrepareJob}
import graft.model.{Lineage, RawPage}
import graft.ops.Dedup
import graft.sources.Warc
import graft.text.{DictionarySignal, GarbledSignal, Postprocess}

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String, val cores: Int) {
  def path(p: String): String = s"$work/$p"
}

/** One timed call's output, checked after the timing stops. */
trait Rep {
  def docs: Long
  /** Checks every document of the call against the committed output. */
  def check(): CheckReport
}

trait Workload {
  def docsPerRep: Long
  /** Generate and write the inputs (overwrites). */
  def materialize(): Unit
  /** The timed call into the program's public entry points. */
  def run(out: String, tracer: Option[Tracer]): Rep
  /** Calls made only in traced reps, outside the timed call. */
  def traceExtras(tracer: Tracer): Unit = ()
  /** Layer metrics timed single-threaded in the benchmark JVM (traced runs only). */
  def layerMetrics(): Map[String, Double] = Map.empty
}

object Workloads {
  val Names: Seq[String] = Seq("crawl_table", "corpus_dedup")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "crawl_table" => new CrawlTable(ctx, rows = 5000)
    case "corpus_dedup" => new CorpusDedup(ctx, docs = 2000)
    case other => throw new IllegalArgumentException(s"unknown workload $other (one of ${Names.mkString(", ")})")
  }

  /** Repeats `f` over `xs` until `minMs` has passed; returns ms per call. */
  def msPerCall[A](xs: Seq[A], minMs: Double = 250.0)(f: A => Any): Double =
    if (xs.isEmpty) 0.0
    else {
      var sink = 0
      def pass(): Unit = xs.foreach(x => sink += f(x).hashCode)
      val w0 = System.nanoTime()
      while ((System.nanoTime() - w0) / 1e6 < minMs / 2) pass() // warm the JIT
      var calls = 0L
      val t0 = System.nanoTime()
      while (calls == 0 || (System.nanoTime() - t0) / 1e6 < minMs) { pass(); calls += xs.size }
      val ms = (System.nanoTime() - t0) / 1e6 / calls
      if (sink == 42) print("") // keep results live
      ms
    }

  /** Single-thread `Warc.recordIterator` over every archive in `dir`, in ms
    * per 10^6 archive bytes.
    */
  def warcDecodeMsPerMb(dir: String): Double = {
    val files = new File(dir).listFiles().filter(_.getName.endsWith(".warc.gz")).toSeq
    val mb = files.map(_.length).sum / 1e6
    msPerCall(Seq(files), minMs = 300.0) { fs =>
      fs.map { f =>
        val in = new BufferedInputStream(new FileInputStream(f))
        try Warc.recordIterator(in).size finally in.close()
      }.sum
    } / mb
  }
}

/** Commit store that spans each results + lineage write. */
final class TracedStore(inner: CommitStore, tracer: Tracer) extends CommitStore {
  override def committedGroups()(implicit spark: SparkSession): Set[Int] = inner.committedGroups()
  override def commitBatch(
      results: Dataset[ExtractionJob.ResultRow],
      lineageRows: Seq[Lineage],
      batch: Seq[Int])(implicit spark: SparkSession): Unit =
    tracer.span("job.commit")(inner.commitBatch(results, lineageRows, batch))
}

/** Common-Crawl-style page table, CorpusGen's default 20-class mix, through
  * `Main`'s default job: `ExtractionJob.runCheckpointed` and the parquet
  * commit store.
  */
final class CrawlTable(ctx: Ctx, rows: Long) extends Workload {
  private implicit val spark: SparkSession = ctx.spark
  private val cfg: ExtractionJob.JobConfig = ExtractionJob.JobConfig() // Main's defaults
  private val input: String = ctx.path("input")

  def docsPerRep: Long = rows

  def materialize(): Unit =
    CorpusGen.pages(spark, rows, ctx.seed, partitions = ctx.cores * 4)
      .write.mode("overwrite").parquet(input)

  private def pages(): DataFrame = spark.read.parquet(input)

  /** url -> planted failure kind, for every input row. */
  private lazy val expected: Map[String, Option[String]] =
    (0L until rows).map(i => CorpusGen.url(ctx.seed, i) -> Gen.crawlPlantedFailure(i)).toMap

  /** The workload's own rows, sampled, for direct-call comparisons. */
  private lazy val sample: Seq[RawPage] =
    Gen.sampleIdx(ctx.seed, rows, 300).map(CorpusGen.genRow(ctx.seed, _))

  private lazy val plantedFailures = expected.values.count(_.isDefined).toLong

  /** The sampled rows as Common Crawl archives, so traced runs also measure
    * the WARC reader on this workload's own pages.
    */
  private lazy val sampleArchives: String = {
    val dir = ctx.path("sample-warc")
    new File(dir).mkdirs()
    sample.grouped(75).zipWithIndex.foreach { case (rs, i) =>
      Files.write(Paths.get(f"$dir/part-$i%03d.warc.gz"), WarcGen.archive(rs, gzip = true, chunked = i % 2 == 1))
    }
    dir
  }

  def run(out: String, tracer: Option[Tracer]): Rep = {
    val in = pages()
    val lin = tracer match {
      case None => ExtractionJob.runCheckpointed(in, cfg, out)
      case Some(t) =>
        t.span("job.run_checkpointed")(
          ExtractionJob.runCheckpointed(in, cfg, new TracedStore(new ParquetCommitStore(out), t)))
    }
    new Rep {
      def docs: Long = rows
      def check(): CheckReport = {
        val committed = spark.read.parquet(s"$out/lineage").as[Lineage](
          org.apache.spark.sql.Encoders.product[Lineage]).collect().toSeq
        val res = spark.read.parquet(s"$out/results")
        val delivered = res.select(col("url"), col("success"), col("error")).collect()
          .map(r => Checks.Delivered(r.getString(0), r.getBoolean(1), r.getString(2))).toSeq
        val direct = sample.take(100).map(r => r.url -> Extractor.extractWithFallback(r, cfg.extractorConfig)).toMap
        val got = res.filter(col("url").isin(direct.keys.toSeq: _*))
          .select(col("url"), col("extracted_text"), col("engine"), col("success"), col("error"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3), r.getString(4))).toSeq
        Checks.lineage(lin, rows, plantedFailures, "returned") ++
          Checks.lineage(committed, rows, plantedFailures, "committed") ++
          Checks.deliveries(expected, delivered) ++ Checks.texts(direct, got)
      }
    }
  }

  override def traceExtras(tracer: Tracer): Unit = {
    tracer.span("job.extract")(
      ExtractionJob.extract(pages(), cfg).write.format("noop").mode("overwrite").save())
    tracer.span("sources.warc.to_table")(Warc.toTable(spark, s"$sampleArchives/*.warc.gz").count())
  }

  override def layerMetrics(): Map[String, Double] = {
    val ex = cfg.extractorConfig
    val rowsS = sample
    val fast = rowsS.map(r => Extractor.fastExtract(r, ex))
    val sized = rowsS.filter(r => r.html != null && r.html.nonEmpty && r.html.length <= ex.maxBytes)
    val (pdfs, htmls) = sized.partition(r => PdfExtractor.isPdf(r.html))
    val heavy = rowsS.zip(fast).filter { case (_, f) => Extractor.needsHeavy(f, ex) }
    val texts = fast.filter(_.success).map(_.extracted_text)
    val analyzer = ex.analyzer
    val kept = heavy.count { case (r, f) => Extractor.heavyExtract(r, f, ex).extracted_text != f.extracted_text }
    Map(
      "extract.fast.ms_per_doc" -> Workloads.msPerCall(rowsS)(Extractor.fastExtract(_, ex)),
      "extract.html.ms_per_doc" -> Workloads.msPerCall(htmls.map(r => new String(r.html, StandardCharsets.UTF_8)))(HtmlExtractor.extract),
      "extract.pdf.ms_per_doc" -> Workloads.msPerCall(pdfs.map(_.html))(PdfExtractor.extract),
      "extract.heavy.ms_per_doc" -> Workloads.msPerCall(heavy) { case (r, f) => Extractor.heavyExtract(r, f, ex) },
      "extract.heavy.routed_frac" -> heavy.size.toDouble / rowsS.size,
      "extract.heavy.kept_frac" -> (if (heavy.isEmpty) 0.0 else kept.toDouble / heavy.size),
      "text.quality.ms_per_doc" -> Workloads.msPerCall(texts)(analyzer.analyze(_)),
      "text.garbled.ms_per_doc" -> Workloads.msPerCall(texts)(GarbledSignal.score(_)),
      "text.dictionary.ms_per_doc" -> Workloads.msPerCall(texts)(DictionarySignal.score(_)),
      "text.postprocess.ms_per_doc" -> Workloads.msPerCall(texts)(Postprocess.apply),
      "sources.warc.decode_ms_per_mb" -> Workloads.warcDecodeMsPerMb(sampleArchives)
    )
  }
}

/** Seeded documents table through `Main --prepare`, then near-dup
  * selection over the survivors.
  */
final class CorpusDedup(ctx: Ctx, docs: Long) extends Workload {
  private implicit val spark: SparkSession = ctx.spark
  private val input = ctx.path("input")
  def docsPerRep: Long = docs

  def materialize(): Unit = {
    import spark.implicits._
    val (seed, n) = (ctx.seed, docs)
    spark.range(0, n, 1, ctx.cores * 4).map(s => Gen.doc(seed, n, s))
      .write.mode("overwrite").parquet(input)
  }

  private lazy val generated = Gen.docs(ctx.seed, docs)
  private lazy val truth = Gen.dedupTruth(generated)
  private lazy val quality = generated.map(d => d.doc_id -> d.n_chars).toMap
  private var checkedPairs = 0L

  override def layerMetrics(): Map[String, Double] = Map("ops.ngram_pairs.pairs" -> checkedPairs.toDouble)

  def run(out: String, tracer: Option[Tracer]): Rep = {
    def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))
    val prep = span("job.prepare")(PrepareJob.run(spark.read.parquet(input), s"$out/prepare"))
    val surv = spark.read.parquet(s"$out/prepare/prepared")
    val pairs = span("ops.ngram_pairs") {
      val p = Dedup.ngramJaccardPairs(surv, n = Gen.ShingleN, threshold = Gen.Threshold)
      // traced reps materialize the pairs here so their join is charged
      // to this span rather than to the cluster loop that consumes them
      if (tracer.isDefined) p.localCheckpoint(true) else p
    }
    val labels = span("ops.clusters")(Dedup.dupClusters(surv, pairs))
    val kept = span("ops.keep_best")(
      Dedup.keepBestInCluster(labels, surv.select(col("doc_id"), col("n_chars").as("quality")))
        .select(col("doc_id"), col("cluster_id"), col("keep")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq)
    new Rep {
      def docs: Long = CorpusDedup.this.docs
      def check(): CheckReport = {
        val ids = surv.select(col("doc_id")).collect().map(_.getLong(0)).toSeq
        val ps = pairs.select(col("a_id"), col("b_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        checkedPairs = ps.size
        val report = Checks.dedup(truth, ids, ps, kept, quality)
        // survivors are checked per id above; of prepare's own counts only
        // the input count is compared
        report.copy(unkeyed = math.abs(prep.inputDocs - docs))
      }
    }
  }
}
