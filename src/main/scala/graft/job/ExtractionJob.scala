package graft.job

import java.sql.Timestamp

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.extract.Extractor
import graft.model._

/** The extraction job: Iceberg/parquet scan -> ONE narrow mapPartitions
  * stage on the scan partitions (fast extraction, flagged rows fall through
  * to the heavy kernel in place; payloads never shuffle) -> results +
  * per-partition lineage, committed in resumable url-hash checkpoint groups.
  *
  * Spark re-expression of the reference's two-phase pipeline
  * (reference: pipeline.py:299-835): Phase-1 worker pool = stage tasks;
  * per-file error containment (pipeline.py:284-296) = failure rows +
  * lineage failure counts. The reference's cross-file Phase-2 batch gather
  * (pipeline.py:450-533, batch.py:299-395) exists to pay a GPU model load
  * once; the heavy engine here is a CPU kernel whose state is already
  * JVM-singleton, so it runs inline and there is one physical path. A
  * separate rebatched heavy stage comes back only with a batch-served model
  * engine and a workload where it wins.
  *
  * Shuffle discipline at 10^12 rows: the only full-width data movement is
  * the OPTIONAL input repartition (`repartitionInput`), for scans whose
  * file layout clusters by host (WARC-by-host crawls) — that path salts
  * skewed hosts explicitly. The default path moves only the extracted
  * results (payload-free) into commit groups at write time. Everything
  * else is narrow.
  */
object ExtractionJob {

  final case class JobConfig(
      threshold: Double = 0.85,
      diagnostics: Boolean = false,
      forceHeavy: Boolean = false,
      maxBytes: Int = 512 * 1024,
      numGroups: Int = 64, // commit groups (url-hash buckets); resume unit
      groupsPerCommit: Int = 16, // commit-batch size
      numPartitions: Int = 0, // salted-shuffle width (repartitionInput only); 0 -> default
      repartitionInput: Boolean = false, // host-salted input shuffle (skewed scans only)
      skewSalts: Int = 16, // salt fan-out for skewed hosts
      skewSampleFraction: Double = 0.01, // host-frequency detection sample
      skewHostShare: Double = 0.05, // host is "skewed" above this row share
      maxKernelSteps: Long = 64L * 1024 * 1024 // B3 per-row work budget
  ) {
    // an empty commit layout would commit nothing (numGroups) or fail only
    // after the whole extract job ran (groupsPerCommit): reject it up front
    require(numGroups >= 1, s"numGroups must be >= 1, got $numGroups")
    require(groupsPerCommit >= 1, s"groupsPerCommit must be >= 1, got $groupsPerCommit")

    def extractorConfig: Extractor.Config = Extractor.Config(
      threshold = threshold,
      diagnostics = diagnostics,
      forceHeavy = forceHeavy,
      maxBytes = maxBytes,
      maxKernelSteps = maxKernelSteps
    )
  }

  final case class KeyedPage(
      url: String,
      warc_ts: Timestamp,
      html: Array[Byte],
      text: String,
      lang: String,
      commit_group: Int
  )

  final case class ResultRow(
      url: String,
      extracted_text: String,
      spans: Seq[Span],
      quality: Quality,
      engine: String,
      success: Boolean,
      error: String,
      diagnostics: Option[Diagnostics],
      commit_group: Int,
      partition_id: Int
  )

  /** The lineage table, or None for a fresh run. ONLY two states read as
    * "fresh": the table is missing, or the directory exists with NO data
    * files — a crash during the very first lineage write leaves
    * `_temporary`/marker entries only, and treating that as fatal would make
    * the crash permanently unrecoverable (the results write is idempotent,
    * so redoing is safe). A table with real data files that fails to read —
    * corruption — still surfaces: silently redoing committed work would
    * append duplicate lineage rows. The one read policy for every lineage
    * reader (resume, `Main --status`, `PrepareJob`).
    */
  def readLineage(lineagePath: String)(implicit spark: SparkSession): Option[DataFrame] =
    if (hasDataFiles(lineagePath)) Some(spark.read.parquet(lineagePath)) else None

  /** Committed commit groups from the lineage table ([[readLineage]]). */
  def readCommittedGroups(lineagePath: String)(implicit spark: SparkSession): Set[Int] =
    readLineage(lineagePath).fold(Set.empty[Int])(
      _.select("commit_group").distinct().collect().map(_.getInt(0)).toSet)

  /** True if the directory holds at least one non-hidden data file
    * (Hadoop FS — works for local and distributed paths alike).
    */
  private def hasDataFiles(path: String)(implicit spark: SparkSession): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visible(n: String) = !n.startsWith("_") && !n.startsWith(".")
    fs.exists(p) && {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val f = it.next()
        // listFiles recurses into _temporary; require every path segment
        // visible, not just the leaf
        val rel = f.getPath.toUri.getPath.stripPrefix(p.toUri.getPath)
        found = rel.split("/").filter(_.nonEmpty).forall(visible)
      }
      found
    }
  }

  /** Detect skewed hosts from a sample: any host holding more than
    * `skewHostShare` of sampled rows (SURVEY.md §4.1). Sampled, not exact —
    * salting is a physical-plan decision, results never depend on it.
    */
  def detectSkewedHosts(pages: DataFrame, cfg: JobConfig): Set[String] = {
    val sampled =
      if (cfg.skewSampleFraction >= 1.0) pages else pages.sample(cfg.skewSampleFraction, 42L)
    val counts = sampled
      .select(graft.ops.TextAnalysis.hostOf(col("url")).as("host"))
      .groupBy("host")
      .count()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val totalRow = counts.agg(sum("count")).first()
      val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
      if (total == 0) Set.empty
      else
        counts
          .filter(col("count") > lit(math.max(1.0, total * cfg.skewHostShare)))
          .select("host")
          .collect()
          .map(_.getString(0))
          .toSet
    } finally { counts.unpersist(); () }
  }

  /** Keyed input for one commit batch. The commit group is pure url-hash
    * (`pmod(xxhash64(url), numGroups)`), deterministic and independent of
    * physical partitioning, so resume keys never shift.
    *
    * By default the input is consumed on its scan partitions — no shuffle,
    * payloads never move. With `repartitionInput` (for scans whose file
    * layout clusters rows by host, e.g. WARC-by-host crawls) the input is
    * hash-partitioned on host with hosts above `skewHostShare` explicitly
    * salted across `skewSalts` sub-keys, so one mega-host cannot pin a task.
    */
  private def keyed(
      pages: DataFrame,
      cfg: JobConfig,
      skewedHosts: Set[String],
      groups: Option[Seq[Int]]
  )(implicit spark: SparkSession): Dataset[KeyedPage] = {
    import spark.implicits._
    var df = pages
      .withColumn("commit_group", pmod(xxhash64(col("url")), lit(cfg.numGroups)).cast("int"))
    groups.foreach(g => df = df.filter(col("commit_group").isInCollection(g)))
    if (cfg.repartitionInput) {
      df = df
        .withColumn("host", graft.ops.TextAnalysis.hostOf(col("url")))
        .withColumn(
          "salted_key",
          when(
            col("host").isInCollection(skewedHosts + " none"),
            concat(col("host"), lit("#"), pmod(xxhash64(col("url")), lit(cfg.skewSalts)))
          ).otherwise(col("host"))
        )
        .repartition(partitions(cfg), col("salted_key"))
    }
    df.select("url", "warc_ts", "html", "text", "lang", "commit_group")
      .as[KeyedPage]
  }

  private def partitions(cfg: JobConfig)(implicit spark: SparkSession): Int =
    if (cfg.numPartitions > 0) cfg.numPartitions else spark.sparkContext.defaultParallelism

  /** Fast extraction + heavy fallback over (a batch of) the input. Pure
    * transformation — no writes. ONE narrow mapPartitions stage: fast
    * extract, and flagged rows fall through to the heavy kernel in place
    * ([[Extractor.extractWithFallback]]) — zero shuffles, zero caching,
    * payloads never leave their scan partition.
    */
  def extract(
      pages: DataFrame,
      cfg: JobConfig,
      skewedHosts: Set[String] = Set.empty,
      groups: Option[Seq[Int]] = None
  )(implicit spark: SparkSession): Dataset[ResultRow] = {
    import spark.implicits._
    val exCfg = cfg.extractorConfig
    keyed(pages, cfg, skewedHosts, groups).mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      it.map { p =>
        val raw = RawPage(p.url, p.warc_ts, p.html, p.text, p.lang)
        toResult(Extractor.extractWithFallback(raw, exCfg), p.commit_group, pid)
      }
    }
  }

  private def toResult(doc: DocResult, group: Int, pid: Int): ResultRow =
    ResultRow(doc.url, doc.extracted_text, doc.spans, doc.quality, doc.engine,
      doc.success, doc.error, doc.diagnostics, group, pid)

  /** Per-partition lineage aggregation (north rule: partition id, doc count,
    * byte count, failure count; reference analogue: BatchResult counters,
    * types.py:201-214).
    */
  def lineage(results: Dataset[ResultRow])(implicit spark: SparkSession): Dataset[Lineage] = {
    import spark.implicits._
    results
      .groupBy(col("commit_group"), col("partition_id"))
      .agg(
        count(lit(1)).as("doc_count"),
        sum(octet_length(col("extracted_text"))).as("byte_count"),
        sum(when(!col("success"), 1L).otherwise(0L)).as("failure_count")
      )
      .as[Lineage]
  }

  /** Checkpointed run: processes commit groups in batches; each batch writes
    * its results (parquet partitioned by commit_group) then appends its
    * lineage rows — the lineage append IS the commit record. A killed run
    * resumes by anti-joining groups against committed lineage
    * (north rule; reference analogue: per-file isolation + final/ dir
    * idempotency, pipeline.py:801-812).
    *
    * The input is scanned ONCE for all remaining groups: extraction results
    * (payload-free) are persisted, and each commit batch filters the CACHE, so input scans
    * do not grow with batch count (O(corpus), not O(batches x corpus)). A
    * crash mid-run loses only the cache; the resumed run re-scans once for
    * the still-uncommitted groups. On the production Iceberg table the
    * url-hash bucket layout additionally turns the remaining-groups filter
    * into partition pruning.
    *
    * Lineage is aggregated ONCE per run, by the job that fills the cache,
    * and split per batch on the driver (a few rows per commit group), so the
    * batch loop runs only the stores' writes — not one aggregation over the
    * whole cache per batch.
    */
  def runCheckpointed(
      pages: DataFrame,
      cfg: JobConfig,
      outputDir: String
  )(implicit spark: SparkSession): Seq[Lineage] =
    runCheckpointed(pages, cfg, new ParquetCommitStore(outputDir))

  /** Store-injected form: the commit/resume protocol is identical for the
    * parquet stand-in and a production Iceberg catalog ([[CommitStore]]).
    * `phaseSecs` receives the wall seconds of the two phases: `extract`
    * (the cache-filling lineage job) and `commit` (the batch loop).
    */
  def runCheckpointed(
      pages: DataFrame,
      cfg: JobConfig,
      store: CommitStore,
      phaseSecs: (String, Double) => Unit = (_, _) => ()
  )(implicit spark: SparkSession): Seq[Lineage] = {
    val committed: Set[Int] = store.committedGroups()

    val remaining = (0 until cfg.numGroups).filterNot(committed)
    if (remaining.isEmpty) return Seq.empty
    val skewed =
      if (cfg.repartitionInput) detectSkewedHosts(pages, cfg) else Set.empty[String]

    // released through its Dataset handle: raw-RDD unpersist would leak the
    // CacheManager entry and turn a same-plan re-persist into a no-op
    val persisted = extract(pages, cfg, skewed, Some(remaining))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)

    val all = Seq.newBuilder[Lineage]
    try {
      val t0 = System.nanoTime()
      val byGroup = lineage(persisted).collect().toSeq.groupBy(_.commit_group)
      val t1 = System.nanoTime()
      phaseSecs("extract", (t1 - t0) / 1e9)
      remaining.grouped(cfg.groupsPerCommit).foreach { batch =>
        val subset = persisted.filter(col("commit_group").isInCollection(batch))
        // groups with zero rows still need a commit record, else every
        // resume re-scans them forever (found by CLI resume verification)
        val lin = batch.flatMap(g => byGroup.getOrElse(g, Seq(Lineage(g, -1, 0L, 0L, 0L))))
        // results first, lineage second (the store contract): a crash
        // between the two leaves replaceable orphans, never a committed
        // group without data
        store.commitBatch(subset, lin, batch)
        all ++= lin
      }
      phaseSecs("commit", (System.nanoTime() - t1) / 1e9)
    } finally persisted.unpersist()
    all.result()
  }

  /** Driver-side batch summary (reference: BatchResult counters +
    * engine rollup, types.py:109-229 / cli.py:83-141).
    */
  def summarize(results: Dataset[ResultRow]): DataFrame =
    results
      .groupBy(col("engine"))
      .agg(
        count(lit(1)).as("docs"),
        sum(when(!col("success"), 1L).otherwise(0L)).as("errors"),
        sum(when(col("quality.flagged"), 1L).otherwise(0L)).as("flagged"),
        avg(col("quality.score")).as("mean_quality"),
        sum(octet_length(col("extracted_text"))).as("bytes")
      )
      .orderBy(col("engine"))
}
