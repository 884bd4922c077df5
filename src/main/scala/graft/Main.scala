package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.corpus.CorpusGen
import graft.job.{ExtractionJob, ParquetCommitStore}

/** spark-submit entry point — the reference's CLI surface (cli.py:144-404)
  * re-expressed as a batch job:
  *
  * {{{
  * spark-submit --class graft.Main <jar> \
  *   --input <parquet/iceberg path | synth:<rows> | warc:<path-glob>> \
  *   --output <dir> \
  *   [--threshold 0.85] [--diagnostics] [--force-heavy]
  *   [--max-bytes 524288]
  *   [--groups N (default: sized to input, 64 if unknown)]
  *   [--groups-per-commit 16] [--repartition-input]
  * graft.Main --status --output <dir>   # resume/status probe (the
  *   reference's ocr_status job table, mcp_server.py:106-254, as a
  *   lineage-table read)
  * graft.Main --prepare --input <documents parquet> --output <dir>
  *   # one-command training-corpus prep: fused gopher-gate + exact dedup +
  *   # train/val/test split (graft.job.PrepareJob), survivors written
  *   # partitionBy(split) with a write-then-commit lineage table
  * }}}
  *
  * The commit layout (`num_groups`, the url-hash group count) is sized to
  * the input: one group per 512 MB of scanned files or of `synth:` rows
  * at their estimated width (`ExtractionJob.numGroupsFor`), 64 when the
  * input's size is unknown (`warc:`). The run records it in its lineage;
  * a resumed run and `--status` read it back, and a `--groups` that
  * contradicts it fails before anything is extracted or written.
  *
  * `--repartition-input` rebalances the input before extraction: one hash
  * shuffle on (url, warc_ts), `defaultParallelism` wide. It is for scans
  * whose tasks are uneven, such as `warc:`, which reads each unsplittable
  * archive whole; results are the same with and without it.
  *
  * Exit code 0 iff no failure rows (cli.py:404 contract).
  */
object Main {

  final case class Args(
      input: String = null,
      output: String = null,
      threshold: Double = 0.85,
      diagnostics: Boolean = false,
      forceHeavy: Boolean = false,
      maxBytes: Int = 512 * 1024,
      groups: Option[Int] = None,
      groupsPerCommit: Int = 16,
      repartitionInput: Boolean = false,
      status: Boolean = false,
      prepare: Boolean = false
  )

  def parse(argv: List[String], acc: Args = Args()): Args = argv match {
    case Nil => acc
    case "--input" :: v :: rest => parse(rest, acc.copy(input = v))
    case "--output" :: v :: rest => parse(rest, acc.copy(output = v))
    case "--threshold" :: v :: rest => parse(rest, acc.copy(threshold = v.toDouble))
    case "--diagnostics" :: rest => parse(rest, acc.copy(diagnostics = true))
    case "--force-heavy" :: rest => parse(rest, acc.copy(forceHeavy = true))
    case "--max-bytes" :: v :: rest => parse(rest, acc.copy(maxBytes = v.toInt))
    case "--groups" :: v :: rest => parse(rest, acc.copy(groups = Some(v.toInt)))
    case "--groups-per-commit" :: v :: rest => parse(rest, acc.copy(groupsPerCommit = v.toInt))
    case "--repartition-input" :: rest => parse(rest, acc.copy(repartitionInput = true))
    case "--status" :: rest => parse(rest, acc.copy(status = true))
    case "--prepare" :: rest => parse(rest, acc.copy(prepare = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown arg: $other")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    require(args.output != null, "--output is required")
    val builder = SparkSession.builder()
      .appName("graft-extract")
      .config("spark.sql.adaptive.enabled", "true")
    // spark-submit injects the master; default for direct JVM launches
    if (!sys.props.contains("spark.master") && sys.env.get("MASTER").isEmpty)
      builder.master(s"local[${Runtime.getRuntime.availableProcessors()}]")
        .config("spark.sql.shuffle.partitions",
          Runtime.getRuntime.availableProcessors().toString)
    implicit val spark: SparkSession = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (args.status) {
      // status probe: committed groups, counters and the recorded layout
      // from the lineage table in one job, read under the same policy as
      // resume (ExtractionJob.readLineage); num_groups is null until a run
      // records one
      val (g, d, f, n) = ExtractionJob.readLineage(s"${args.output}/lineage")
        .fold((0L, 0L, 0L, "null")) { lin =>
          val row = lin.agg(
            countDistinct(col("commit_group")),
            coalesce(sum(col("doc_count")), lit(0L)),
            coalesce(sum(col("failure_count")), lit(0L)),
            max(ExtractionJob.layoutColumn(lin))).first()
          (row.getLong(0), row.getLong(1), row.getLong(2),
            if (row.isNullAt(3)) "null" else row.getInt(3).toString)
        }
      println(s"""{"committed_groups":$g,"docs":$d,"failures":$f,"num_groups":$n}""")
      spark.stop()
      return
    }

    if (args.prepare) {
      // one-command training-corpus prep over a documents table
      // (doc_id, text, ...): fused gate+dedup+split, survivors written
      // partitioned by split, lineage committed last (graft.job.PrepareJob)
      require(args.input != null, "--input is required")
      require(!args.input.startsWith("synth:") && !args.input.startsWith("warc:"),
        "--prepare reads a documents-shaped parquet table (doc_id, text, ...)")
      val docs = spark.read.parquet(args.input)
      val res = graft.job.PrepareJob.run(docs, args.output)
      println(res.json)
      spark.stop()
      return
    }

    require(args.input != null, "--input is required")
    val pages =
      if (args.input.startsWith("synth:"))
        CorpusGen.pages(spark, args.input.stripPrefix("synth:").toLong).toDF()
      else if (args.input.startsWith("warc:"))
        // raw Common-Crawl-style archives: stream-decoded per file into the
        // standard page table shape (graft.sources.Warc)
        graft.sources.Warc.toTable(spark, args.input.stripPrefix("warc:"))
      else spark.read.parquet(args.input)

    // -1 is JobConfig's sized-to-input marker, not a group count
    require(args.groups.forall(_ >= 1), s"--groups must be >= 1, got ${args.groups.get}")
    val cfg = ExtractionJob.JobConfig(
      threshold = args.threshold,
      diagnostics = args.diagnostics,
      forceHeavy = args.forceHeavy,
      maxBytes = args.maxBytes,
      numGroups = args.groups.getOrElse(ExtractionJob.JobConfig.SizedToInput),
      groupsPerCommit = args.groupsPerCommit,
      repartitionInput = args.repartitionInput)

    // layout + phase timings (reference: phase_timings map, pipeline.py:86-98)
    var info = ExtractionJob.RunInfo(cfg.numGroups, 0.0, 0.0)
    val t0 = System.nanoTime()
    val lineage = ExtractionJob.runCheckpointed(
      pages, cfg, new ParquetCommitStore(args.output), info = _)
    val runSecs = (System.nanoTime() - t0) / 1e9
    val failures = lineage.map(_.failure_count).sum
    val docs = lineage.map(_.doc_count).sum
    val docsPerSec = if (runSecs > 0) docs / runSecs else 0.0
    println(
      s"""{"committed_groups":${lineage.map(_.commit_group).distinct.size},"docs":$docs,"failures":$failures,""" +
        s""""num_groups":${info.numGroups},""" +
        f""""phase_timings":{"extract":${info.extractSecs}%.3f,"commit":${info.commitSecs}%.3f},""" +
        s""""docs_per_sec":${f"$docsPerSec%.1f"}}""")
    spark.stop()
    if (failures > 0) sys.exit(1) // error_count!=0 -> nonzero exit (cli.py:404)
  }
}
