package graft.job

import java.sql.Timestamp

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Range
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
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
  * file layout leaves tasks uneven (a few unsplittable WARC archives) —
  * that path hashes rows on (url, warc_ts), a key with no heavy hitters.
  * The default path moves only the extracted results (payload-free) into
  * commit groups at write time. Everything else is narrow.
  */
object ExtractionJob {

  /** One extraction run's settings. `numGroups` is the commit layout: the
    * url-hash group count, which is also the resume unit. Left at its
    * default ([[JobConfig.SizedToInput]]) a fresh run sizes it to the input,
    * one group per [[JobConfig.TargetGroupBytes]] of scanned files
    * ([[numGroupsFor]]), and a resumed run reuses the layout its lineage
    * recorded. An explicit value (>= 1) overrides the sizing and must match
    * any recorded layout. `groupsPerCommit` groups make one commit batch.
    */
  final case class JobConfig(
      threshold: Double = 0.85,
      diagnostics: Boolean = false,
      forceHeavy: Boolean = false,
      maxBytes: Int = 512 * 1024,
      numGroups: Int = JobConfig.SizedToInput, // commit groups (url-hash buckets); resume unit
      groupsPerCommit: Int = 16, // commit-batch size
      repartitionInput: Boolean = false // (url, warc_ts)-hash input shuffle (uneven scans only)
  ) {
    // an empty commit layout would commit nothing (numGroups) or fail only
    // after the whole extract job ran (groupsPerCommit): reject it up front
    require(numGroups >= 1 || numGroups == JobConfig.SizedToInput,
      s"numGroups must be >= 1, got $numGroups")
    require(groupsPerCommit >= 1, s"groupsPerCommit must be >= 1, got $groupsPerCommit")
    // a zero byte cap fails every payload row, and a threshold above 1 flags
    // every row (the composite score is at most 1): both only show after a
    // full run
    require(maxBytes >= 1, s"maxBytes must be >= 1, got $maxBytes")
    require(threshold >= 0.0 && threshold <= 1.0, s"threshold must be in [0, 1], got $threshold")

    def extractorConfig: Extractor.Config = Extractor.Config(
      threshold = threshold,
      diagnostics = diagnostics,
      forceHeavy = forceHeavy,
      maxBytes = maxBytes
    )
  }

  object JobConfig {

    /** `numGroups` default: size the layout to the input on a fresh run,
      * reuse the recorded one (`Lineage.num_groups`) on resume, so the
      * url-hash never shifts when the input grows between runs.
      */
    val SizedToInput: Int = -1

    /** Input bytes per commit group: Iceberg's default
      * `write.target-file-size-bytes`, the table format's own write unit.
      */
    val TargetGroupBytes: Long = 512L * 1024 * 1024

    /** Groups when the input's size is unknown (a non-file scan such as
      * `warc:`, or a scan without real statistics).
      */
    val UnknownSizeGroups: Int = 64
  }

  /** Commit groups for `bytes` of input: ceil(bytes / TargetGroupBytes),
    * at least 1.
    */
  private[job] def groupsForBytes(bytes: BigInt): Int = {
    val target = BigInt(JobConfig.TargetGroupBytes)
    ((bytes + target - 1) / target).max(1).min(Int.MaxValue).toInt
  }

  /** The input's size from its optimized plan's statistics, when every leaf
    * is a file or V2 scan or a `Range` (whose row count is exact: a
    * `synth:` input maps each id of one to a page) and the estimate is real
    * (below `spark.sql.defaultSizeInBytes`, which marks a source without
    * stats). Reads file-index metadata only: starts no Spark job.
    */
  private[job] def inputBytes(pages: DataFrame): Option[BigInt] = {
    val plan = pages.queryExecution.optimizedPlan
    val sized = plan.collectLeaves().forall {
      case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation]
      case _: DataSourceV2Relation | _: DataSourceV2ScanRelation | _: Range => true
      case _ => false
    }
    val size = plan.stats.sizeInBytes
    if (sized && size < pages.sparkSession.sessionState.conf.defaultSizeInBytes) Some(size)
    else None
  }

  /** Commit groups for a fresh run over `pages`: the explicit
    * `cfg.numGroups`, else [[groupsForBytes]] of [[inputBytes]], else
    * [[JobConfig.UnknownSizeGroups]]. Starts no Spark job.
    */
  def numGroupsFor(pages: DataFrame, cfg: JobConfig): Int =
    if (cfg.numGroups != JobConfig.SizedToInput) cfg.numGroups
    else inputBytes(pages).fold(JobConfig.UnknownSizeGroups)(groupsForBytes)

  /** The layout a checkpointed run uses: the recorded one on resume (an
    * explicit `cfg.numGroups` must agree with it), else [[numGroupsFor]].
    * Committed groups without a recorded layout (a store that does not
    * record one, or lineage written before layouts were recorded) resume
    * only under an explicit `cfg.numGroups`: a derived count could differ
    * from the one the groups were hashed with.
    */
  private def layoutFor(pages: DataFrame, cfg: JobConfig, recorded: CommitStore.Recorded): Int =
    recorded.numGroups match {
      case Some(n) =>
        require(cfg.numGroups == JobConfig.SizedToInput || cfg.numGroups == n,
          s"numGroups ${cfg.numGroups} contradicts the recorded layout of $n groups")
        n
      case None =>
        require(recorded.groups.isEmpty || cfg.numGroups != JobConfig.SizedToInput,
          "committed groups record no layout: set numGroups to the count they were written with")
        numGroupsFor(pages, cfg)
    }

  /** What a checkpointed run reports besides its lineage rows: the commit
    * layout it used and the wall seconds of its two phases, `extract` (the
    * cache-filling lineage job) and `commit` (the batch loop).
    */
  final case class RunInfo(numGroups: Int, extractSecs: Double, commitSecs: Double)

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

  /** Committed groups and recorded layout of the lineage table
    * ([[readLineage]]).
    */
  def readRecorded(lineagePath: String)(implicit spark: SparkSession): CommitStore.Recorded =
    readLineage(lineagePath).fold(CommitStore.Recorded(Set.empty, None))(recordedOf)

  /** `num_groups` of a lineage table, null where none is recorded: 0 (rows
    * built outside a checkpointed run) or a table written before layouts
    * were recorded, which has no such column.
    */
  def layoutColumn(lin: DataFrame): Column =
    if (lin.columns.contains("num_groups")) nullif(col("num_groups"), lit(0))
    else lit(null).cast("int")

  /** Committed groups and their one recorded layout, in one Spark job. */
  def recordedOf(lin: DataFrame): CommitStore.Recorded = {
    val rows = lin.select(col("commit_group"), layoutColumn(lin)).distinct().collect()
    val layouts = rows.filterNot(_.isNullAt(1)).map(_.getInt(1)).distinct
    require(layouts.length <= 1, s"lineage records more than one layout: ${layouts.sorted.mkString(", ")}")
    CommitStore.Recorded(rows.map(_.getInt(0)).toSet, layouts.headOption)
  }

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

  /** Keyed input for one commit batch. The commit group is pure url-hash
    * (`pmod(xxhash64(url), numGroups)`, numGroups from [[numGroupsFor]]),
    * deterministic and independent of physical partitioning, so resume keys
    * never shift.
    *
    * By default the input is consumed on its scan partitions — no shuffle,
    * payloads never move. With `repartitionInput` (for scans whose file
    * layout leaves tasks uneven, e.g. a few large unsplittable WARC
    * archives) the input is hash-partitioned on (url, warc_ts),
    * `defaultParallelism` wide. A row is one capture of one url, so the key
    * has no heavy hitters: neither a large host nor a url recaptured across
    * crawls can pin a task, and there is nothing to detect or split.
    */
  private def keyed(
      pages: DataFrame,
      cfg: JobConfig,
      groups: Option[Seq[Int]]
  )(implicit spark: SparkSession): Dataset[KeyedPage] = {
    import spark.implicits._
    var df = pages
      .withColumn("commit_group", pmod(xxhash64(col("url")), lit(numGroupsFor(pages, cfg))).cast("int"))
    groups.foreach(g => df = df.filter(col("commit_group").isInCollection(g)))
    if (cfg.repartitionInput)
      df = df.repartition(spark.sparkContext.defaultParallelism, col("url"), col("warc_ts"))
    df.select("url", "warc_ts", "html", "text", "lang", "commit_group")
      .as[KeyedPage]
  }

  /** Fast extraction + heavy fallback over (a batch of) the input. Pure
    * transformation — no writes. ONE narrow mapPartitions stage: fast
    * extract, and flagged rows fall through to the heavy kernel in place
    * ([[Extractor.extractWithFallback]]) — zero shuffles, zero caching,
    * payloads never leave their scan partition. Under `repartitionInput`
    * the one (url, warc_ts) shuffle of [[keyed]] runs first.
    */
  def extract(
      pages: DataFrame,
      cfg: JobConfig,
      groups: Option[Seq[Int]] = None
  )(implicit spark: SparkSession): Dataset[ResultRow] = {
    import spark.implicits._
    val exCfg = cfg.extractorConfig
    keyed(pages, cfg, groups).mapPartitions { it =>
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
    * types.py:201-214), each row recording the run's `numGroups` layout.
    */
  def lineage(results: Dataset[ResultRow], numGroups: Int)(implicit spark: SparkSession): Dataset[Lineage] = {
    import spark.implicits._
    results
      .groupBy(col("commit_group"), col("partition_id"))
      .agg(
        count(lit(1)).as("doc_count"),
        sum(octet_length(col("extracted_text"))).as("byte_count"),
        sum(when(!col("success"), 1L).otherwise(0L)).as("failure_count")
      )
      .withColumn("num_groups", lit(numGroups))
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
    * The layout comes from [[layoutFor]]: a contradicting explicit
    * `numGroups` fails right after the store's one layout read, before any
    * extraction or write. `info` receives the layout and phase timings.
    */
  def runCheckpointed(
      pages: DataFrame,
      cfg: JobConfig,
      store: CommitStore,
      info: RunInfo => Unit = _ => ()
  )(implicit spark: SparkSession): Seq[Lineage] = {
    val recorded = store.recorded()
    val numGroups = layoutFor(pages, cfg, recorded)
    val runCfg = cfg.copy(numGroups = numGroups)

    val remaining = (0 until numGroups).filterNot(recorded.groups)
    if (remaining.isEmpty) {
      info(RunInfo(numGroups, 0.0, 0.0))
      return Seq.empty
    }
    // a fresh run keeps every group: a filter listing them all is always
    // true, and every task would deserialize its numGroups literals
    val groups = if (recorded.groups.isEmpty) None else Some(remaining)

    // released through its Dataset handle: raw-RDD unpersist would leak the
    // CacheManager entry and turn a same-plan re-persist into a no-op
    val persisted = extract(pages, runCfg, groups)
      .persist(StorageLevel.MEMORY_AND_DISK_SER)

    val all = Seq.newBuilder[Lineage]
    try {
      val t0 = System.nanoTime()
      val byGroup = lineage(persisted, numGroups).collect().toSeq.groupBy(_.commit_group)
      val t1 = System.nanoTime()
      remaining.grouped(cfg.groupsPerCommit).foreach { batch =>
        val subset = persisted.filter(col("commit_group").isInCollection(batch))
        // groups with zero rows still need a commit record, else every
        // resume re-scans them forever (found by CLI resume verification)
        val lin = batch.flatMap(g =>
          byGroup.getOrElse(g, Seq(Lineage(g, -1, 0L, 0L, 0L, numGroups))))
        // results first, lineage second (the store contract): a crash
        // between the two leaves replaceable orphans, never a committed
        // group without data
        store.commitBatch(subset, lin, batch)
        all ++= lin
      }
      info(RunInfo(numGroups, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9))
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
