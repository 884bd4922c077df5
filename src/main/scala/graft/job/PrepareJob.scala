package graft.job

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
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
  *     lineage table is written LAST, from the per-split counts the write
  *     job itself observed (not a re-plan or a read-back), so a killed run
  *     leaves no lineage and the rerun redoes the work; an existing lineage
  *     short-circuits into a resume no-op — the same contract the
  *     extraction CLI has.
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

  /** The committed lineage rows, or None when absent or empty — the
    * extraction job's read policy ([[ExtractionJob.readLineage]]): a
    * corrupted lineage dir stays loud instead of silently redoing and
    * overwriting the previous run.
    */
  private def readLineage(path: String)(implicit spark: SparkSession): Option[Array[Row]] =
    ExtractionJob.readLineage(path).map(_.collect()).filter(_.nonEmpty)

  /** Lineage rollup-row marker (never a real split name). */
  private val AllRow = "__all__"

  /** The report of a run, fresh or resumed, from its per-split counts. */
  private def result(resumed: Boolean, inputDocs: Long, stats: Seq[SplitStat]): Result = {
    val (surv, groupDocs) = (stats.map(_.n_docs).sum, stats.map(_.group_docs).sum)
    Result(resumed, inputDocs, surv, groupDocs - surv, inputDocs - groupDocs, stats)
  }

  // input_docs is a run-constant replicated per lineage row (the lineage
  // always holds the `__all__` row, so there is one to read)
  private def fromLineage(rows: Array[Row], resumed: Boolean): Result =
    result(resumed, rows.head.getAs[Long]("input_docs"), rows.toSeq.map(r =>
      SplitStat(r.getAs[String]("split"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("ws_tokens"), r.getAs[Long]("group_docs"))).filterNot(_.split == AllRow))

  def run(docs: DataFrame, outDir: String)(implicit spark: SparkSession): Result = {
    val linPath = s"$outDir/prepare_lineage"
    readLineage(linPath) match {
      case Some(rows) =>
        // committed lineage = the run finished: resume is a no-op report
        fromLineage(rows, resumed = true)
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
        // so do the per-split counts, observed above the join-back in the
        // write's result stage (metrics applied once per task): the written
        // rows, a duplicated doc_id's multiplied rows included. group_docs
        // counts each input doc whose exact-dup group survived.
        val written = Observation("prepare_splits")
        val perSplit = Pipeline.SplitNames.flatMap { s =>
          Seq("n_docs" -> lit(1L), "ws_tokens" -> col("ws_tokens"), "group_docs" -> col("dup_count"))
            .map { case (name, c) => sum(when(col("split") === s, c)).as(s"${s}_$name") }
        }
        docs.join(survivors, Seq("doc_id")).observe(written, perSplit.head, perSplit.tail: _*)
          .write.mode("overwrite").partitionBy("split").parquet(s"$outDir/prepared")
        // read only after the write returned: a failed action's Observation
        // reads zeroed metrics. A write the optimizer proves empty loses the
        // observed nodes: a split count reads 0, input_docs falls to count().
        def metric(o: Observation, name: String) = o.get.get(name).collect { case n: Long => n }
        val inputDocs = metric(observed, "input_docs").getOrElse(docs.count())
        val stats = Pipeline.SplitNames.map { s =>
          def n(name: String) = metric(written, s"${s}_$name").getOrElse(0L)
          SplitStat(s, n("n_docs"), n("ws_tokens"), n("group_docs"))
        }.filter(_.n_docs > 0)
        // the `__all__` rollup row keeps a fully-gated corpus's lineage
        // non-empty, so the commit is durable and a rerun resumes
        val rollup = SplitStat(AllRow, stats.map(_.n_docs).sum, stats.map(_.ws_tokens).sum,
          stats.map(_.group_docs).sum)
        spark.createDataFrame(stats :+ rollup).withColumn("input_docs", lit(inputDocs))
          .coalesce(1).write.mode("overwrite").parquet(linPath)
        result(resumed = false, inputDocs, stats)
    }
  }
}
