package graft.job

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Pipeline

/** One-command training-corpus preparation (`Main --prepare`): the fused
  * gate + exact-dedup + split operator ([[Pipeline.prepare]] — ONE scan +
  * ONE all-primitive hash-aggregate shuffle) joined back to the document
  * text and written partitioned by train/val/test split.
  *
  * Shapes, read for 100 TB:
  *   - the dedup/gate/split statistics travel as skinny `(doc_id, split,
  *     ws_tokens, dup_count)` rows (the [[graft.ops.Dedup.markDuplicatesIds]]
  *     discipline): the corpus text crosses exactly ONE exchange — the
  *     join-back that selects the canonical survivors;
  *   - the at-rest layout is `partitionBy("split")`, so downstream training
  *     readers prune to their split instead of filtering the corpus;
  *   - commit protocol is write-then-commit, mirroring [[CommitStore]]: the
  *     lineage table is written LAST, from the parquet actually on disk
  *     (not a re-plan), so a killed run leaves no lineage and the rerun
  *     redoes the work; an existing lineage short-circuits into a resume
  *     no-op — the same contract the extraction CLI has.
  */
object PrepareJob {

  final case class SplitStat(split: String, n_docs: Long, ws_tokens: Long, group_docs: Long)

  final case class Result(
      resumed: Boolean,
      inputDocs: Long,
      survivors: Long,
      dupDropped: Long,
      gatedOut: Long,
      splits: Seq[SplitStat]) {
    def json: String = {
      val sp = splits.sortBy(_.split).map(s =>
        s""""${s.split}":{"docs":${s.n_docs},"ws_tokens":${s.ws_tokens}}""").mkString(",")
      s"""{"resumed":$resumed,"input_docs":$inputDocs,"survivors":$survivors,""" +
        s""""dup_dropped":$dupDropped,"gated_out":$gatedOut,"splits":{$sp}}"""
    }
  }

  /** The committed lineage, or None when absent or empty — the extraction
    * job's read policy ([[ExtractionJob.readLineage]]): a corrupted lineage
    * dir stays loud instead of silently redoing and overwriting the
    * previous run.
    */
  private def readLineage(path: String)(implicit spark: SparkSession): Option[DataFrame] =
    ExtractionJob.readLineage(path).filterNot(_.isEmpty)

  /** Lineage rollup-row marker (never a real split name). */
  private val AllRow = "__all__"

  private def fromLineage(lin: DataFrame, resumed: Boolean): Result = {
    val collected = lin.collect()
    val rows = collected.map(r =>
      SplitStat(r.getAs[String]("split"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("ws_tokens"), r.getAs[Long]("group_docs")))
    val stats = rows.filterNot(_.split == AllRow).toSeq
    // input_docs is a run-constant replicated per lineage row (the lineage
    // always holds the `__all__` row, so there is one to read)
    val inDocs = collected.head.getAs[Long]("input_docs")
    val surv = stats.map(_.n_docs).sum
    val groupDocs = stats.map(_.group_docs).sum
    Result(resumed, inDocs, surv, groupDocs - surv, inDocs - groupDocs, stats)
  }

  def run(docs: DataFrame, outDir: String)(implicit spark: SparkSession): Result = {
    val linPath = s"$outDir/prepare_lineage"
    readLineage(linPath) match {
      case Some(lin) =>
        // committed lineage = the run finished: resume is a no-op report
        fromLineage(lin, resumed = true)
      case None =>
        // fail FAST on schema collisions: the output appends these three
        // columns to the input row, and a duplicate name would surface as
        // an ambiguous-column error only AFTER the gate+dedup work ran
        // (e.g. re-preparing an already-prepared table)
        val clash = docs.columns.toSet.intersect(Set("split", "ws_tokens", "dup_count"))
        require(clash.isEmpty,
          s"--prepare input already carries ${clash.mkString(", ")}: " +
            "drop or rename before preparing (is this table already prepared?)")
        // input_docs rides on the write job: the gate side of the join reads
        // every input row exactly once (the join-back side is not observed)
        val observed = Observation("prepare_input")
        val prep = Pipeline.prepare(docs.observe(observed, count(lit(1)).as("input_docs")))
        val survivors = prep
          .filter(col("keep"))
          .select(col("doc_id"), col("split"), col("ws_tokens"), col("dup_count"))
        val out = docs.join(survivors, Seq("doc_id"))
        out.write.mode("overwrite").partitionBy("split").parquet(s"$outDir/prepared")
        // read only after the write returned: after a failed action an
        // Observation reports zeroed metrics instead of throwing. An input
        // the optimizer proves empty loses the observed node, and with it
        // the metric: count() then reads the empty plan instead.
        val inputDocs = observed.get.get("input_docs") match {
          case Some(n: Long) => n
          case _ => docs.count()
        }
        // lineage FROM THE WRITTEN FILES (explicit schema: a zero-survivor
        // write leaves only the marker, which schema inference cannot
        // read): group_docs counts every input doc whose exact-dup group
        // survived (survivor + its dropped copies). The `__all__` rollup
        // row makes the lineage non-empty even for a fully-gated corpus,
        // so the commit is durable and a rerun resumes instead of redoing.
        val written = spark.read.schema(out.schema).parquet(s"$outDir/prepared")
        val perSplit = written
          .groupBy(col("split"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("ws_tokens")).as("ws_tokens"),
            sum(col("dup_count")).as("group_docs"))
        val totals = written
          .agg(
            count(lit(1)).as("n_docs"),
            coalesce(sum(col("ws_tokens")), lit(0L)).as("ws_tokens"),
            coalesce(sum(col("dup_count")), lit(0L)).as("group_docs"))
          .select(lit(AllRow).as("split"), col("n_docs"), col("ws_tokens"), col("group_docs"))
        val lin = perSplit
          .unionByName(totals)
          .withColumn("input_docs", lit(inputDocs))
        lin.write.mode("overwrite").parquet(linPath)
        fromLineage(spark.read.parquet(linPath), resumed = false)
    }
  }
}
