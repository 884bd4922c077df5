package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fused single-pass corpus preparation (VERDICT r3 "Next round" #6).
  *
  * A composed corpus-prep run (quality gate → exact dedup → split) written
  * as three independent operators scans the corpus once per operator —
  * three full reads of the text column at web scale. Everything except the
  * dedup group-min is row-local, so the whole composition collapses to ONE
  * scan + ONE shuffle:
  *
  *   - per row, compute the row-local columns in a single projection:
  *     gopher keep ([[TextAnalysis.gopherKeep]]), deterministic split
  *     ([[Pipeline.splitName]]), whitespace token count, exact-dup key
  *     (md5 of text, null-text sentinel as in [[Dedup.markDuplicates]]);
  *   - group by the text hash and take the canonical row per group with
  *     `min_by(struct(...), id)` — partial-aggregated (map-side combine),
  *     so a mega-duplicate key arrives at the reducer as one pre-combined
  *     row per map partition, never as a row-per-copy hot key.
  *
  * The output has one row per UNIQUE text: the canonical document (minimum
  * id in its exact-duplicate group) with its row-local columns and the
  * group's duplicate count. No join-back, no second scan, no persist.
  */
object Pipeline {

  /** Deterministic md5 4-hex-digit bucket (0..mod-1, mod <= 65536) of an
    * id column — physical-partitioning-independent, reproducible anywhere
    * md5 exists. EXACTLY uniform only when mod divides 65536 (powers of
    * two); otherwise the low 65536 % mod residues are overweighted by
    * ceil/floor(65536/mod) — at mod 100 that is a 0.15% skew (fine for
    * split assignment), at mod 10000 it would be 1/6 (use mod 65536 and
    * scale the threshold instead, as [[rebalanceByLang]] does).
    */
  def hashBucket(id: Column, mod: Int): Column = {
    require(mod > 0 && mod <= 65536, s"bucket modulus must be in 1..65536, got $mod")
    val h = md5(id.cast("string"))
    def hexVal(i: Int) = {
      val a = ascii(substring(h, i, 1))
      a - lit(48) - lit(39) * (a >= 97).cast("int")
    }
    (hexVal(1) * lit(4096) + hexVal(2) * lit(256) + hexVal(3) * lit(16) + hexVal(4)) % lit(mod)
  }

  /** [[hashBucket]] at modulus 100 — the split-assignment bucket. */
  def splitBucket(id: Column): Column = hashBucket(id, 100)

  /** 80/10/10 train/val/test assignment from [[splitBucket]]. */
  def splitName(id: Column): Column =
    when(splitBucket(id) < 80, "train")
      .when(splitBucket(id) < 90, "val")
      .otherwise("test")

  /** One-pass gate + dedup + split. Output columns:
    * `(doc_id, keep, split, ws_tokens, dup_count)` — one row per unique
    * text, `doc_id` the canonical (minimum) id of the group, `keep` the
    * gopher gate of the canonical row, `dup_count` the group size.
    * Downstream: `.filter(col("keep"))` is the prepared corpus;
    * ws_tokens of a null-text group is the raw tokenizer value and is
    * gated out by `keep = false` (gopher rejects empty text).
    *
    * The aggregation is deliberately ALL-PRIMITIVE so it plans as
    * HashAggregate (r4 verdict "What's wrong" #3: a `min_by(struct(...))`
    * buffer is not hash-aggregable in this Spark version and forced a
    * per-map-task SORT before the partial agg). The rewrite is semantics-
    * preserving because within an exact-dup group the TEXT is identical,
    * so `keep` and `ws_tokens` are group constants (`min` picks the same
    * value `min_by` did), and `split` is a pure row-local function of the
    * canonical id, recomputed after the agg. (Under an md5 collision two
    * different texts could share a group — the same already-documented
    * approximation exact dedup itself carries.)
    */
  def prepare(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // the gate's counts come from the native gopher_stats expression
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    val id = col(idCol)
    val text = col(textCol)
    docs
      .select(
        id.as("__id"),
        Dedup.textHashKey(text).as("__text_hash"),
        TextAnalysis.gopherKeep(text).as("__keep"),
        TextAnalysis.tokenCount(text).cast("long").as("__ws_tokens"))
      .groupBy(col("__text_hash"))
      .agg(
        min(col("__id")).as("__min_id"),
        min(col("__keep")).as("keep"),
        min(col("__ws_tokens")).as("ws_tokens"),
        count(lit(1)).as("dup_count"))
      .select(
        col("__min_id").as(idCol),
        col("keep"),
        splitName(col("__min_id")).as("split"),
        col("ws_tokens"),
        col("dup_count"))
  }

  /** GPT-style concatenate-and-chunk sequence packing: lay every
    * document's tokens end-to-end in deterministic `doc_id` order and cut
    * the stream every `capacity` tokens. Returns, per document, the global
    * token interval it occupies and the first/last training sequence
    * ("pack") it lands in — documents straddle pack boundaries by design,
    * exactly like the standard LM pre-training loader.
    *
    * Output: `(doc_id, n_tokens, seq_start, pack_first, pack_last)` with
    * `seq_start` the 0-based offset of the document's first token in the
    * concatenated stream. Results depend only on (doc_id order, token
    * counts, capacity) — physical partitioning never changes them.
    *
    * At scale — the distributed prefix sum: a naive running total is
    * `sum() OVER (ORDER BY doc_id)`, a single-partition window that
    * serializes the corpus through one task. Instead:
    *
    *   1. range-repartition by doc_id (ordered, balanced partitions) and
    *      tag each row with its partition id;
    *   2. aggregate one `(pid, sum)` row per partition and collect THAT —
    *      a driver-side collect bounded by the partition count (the same
    *      bounded-probe contract as the committed-group ids), turned into
    *      exclusive prefix offsets;
    *   3. broadcast-join the offsets back and finish with a per-PARTITION
    *      window (`partitionBy(pid)`) — every window group is one range
    *      partition, so the sort is partition-local and no corpus-wide
    *      hot key exists.
    *
    * The tagged frame is lineage-truncated so the range exchange runs once
    * and the partition ids are frozen between the offsets job and the
    * final pass.
    */
  def packSequences(
      docs: DataFrame,
      capacity: Long = 2048L,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(capacity > 0, s"pack capacity must be positive, got $capacity")
    runningTokenTotal(
      docs
        .filter(col(textCol).isNotNull)
        .select(
          col(idCol).as("doc_id"),
          TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens")),
      Seq(col("doc_id").asc))
      .select(
        col("doc_id"),
        col("n_tokens"),
        (col("cum") - col("n_tokens")).as("seq_start"),
        expr(s"(cum - n_tokens) div ${capacity}L").as("pack_first"),
        expr(s"(cum - 1) div ${capacity}L").as("pack_last"))
  }

  /** The shared distributed prefix sum: `rows` (carrying an `n_tokens`
    * column) gain `cum` = the inclusive running total of `n_tokens` in
    * `sortCols` order, without a corpus-wide single-task window:
    *
    *   1. range-repartition by `sortCols` (ordered, balanced partitions)
    *      and tag each row with its partition id;
    *   2. aggregate one `(pid, sum)` row per partition and collect THAT —
    *      a driver-side collect bounded by the partition count (the same
    *      bounded-probe contract as the committed-group ids), turned into
    *      exclusive prefix offsets;
    *   3. broadcast-join the offsets back and finish with a per-PARTITION
    *      window (`partitionBy(pid)`) — every window group is one range
    *      partition, so the sort is partition-local and no corpus-wide
    *      hot key exists.
    *
    * The tagged frame is lineage-truncated so the range exchange runs once
    * and the partition ids are frozen between the offsets job and the
    * final pass. `sortCols` must totally order `rows` (include a unique
    * tie-breaker) or `cum` is nondeterministic within ties.
    */
  private def runningTokenTotal(rows: DataFrame, sortCols: Seq[Column]): DataFrame = {
    val spark = rows.sparkSession
    import org.apache.spark.sql.expressions.Window
    val tagged = Dedup.truncateLineage(
      rows
        .repartitionByRange(sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
        .withColumn("pid", spark_partition_id()))
    val partSums = tagged
      .groupBy(col("pid"))
      .agg(sum(col("n_tokens")).as("psum"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    val offsets = partSums
      .scanLeft((0, 0L)) { case ((_, acc), (pid, s)) => (pid, acc + s) }
      .init // scanLeft emits (seed, o1..oN); exclusive prefix = seed..o(N-1)
      .zip(partSums)
      .map { case ((_, off), (pid, _)) => (pid, off) }
    val offsetsDf = spark.createDataFrame(offsets.toSeq).toDF("pid", "pid_offset")
    val w = Window
      .partitionBy(col("pid"))
      .orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .join(broadcast(offsetsDf), Seq("pid"))
      .withColumn("cum", sum(col("n_tokens")).over(w) + col("pid_offset"))
      .drop("pid", "pid_offset")
  }

  /** Token-budget corpus selection: take documents in quality order
    * (highest [[TextAnalysis.qualityScoreCol]] first, doc_id breaking
    * ties) until the cumulative whitespace-token count exceeds `budget` —
    * the "best N tokens" selection a data-constrained pre-training run
    * makes (quality-ranked greedy fill; the document that would cross the
    * budget is excluded, not truncated). Output: every doc annotated
    * `(doc_id, quality_score, n_tokens, cum_tokens, selected)` where
    * `cum_tokens` is the inclusive running total in selection order.
    *
    * At scale — the same distributed prefix sum as [[packSequences]], but
    * ordered by the RANKING key instead of doc_id: a naive
    * `sum() OVER (ORDER BY score DESC)` serializes the corpus through one
    * task; instead range-repartition by (score desc, doc_id), tag with
    * the partition id, collect one `(pid, sum)` row per partition (driver
    * collect bounded by the partition count), broadcast the exclusive
    * offsets back, and finish with a partition-local window. Results
    * depend only on (scores, token counts, budget) — physical
    * partitioning never changes them. The rounded score is the ORDER key,
    * so the selection is reproducible by any ANSI engine bit-for-bit.
    */
  def selectBudget(
      docs: DataFrame,
      budget: Long,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(budget >= 0, s"token budget must be non-negative, got $budget")
    runningTokenTotal(
      docs
        .filter(col(textCol).isNotNull)
        .select(
          col(idCol).as("doc_id"),
          TextAnalysis.qualityScoreCol(col(textCol)).as("quality_score"),
          TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens")),
      Seq(col("quality_score").desc, col("doc_id").asc))
      .select(
        col("doc_id"),
        col("quality_score"),
        col("n_tokens"),
        col("cum").as("cum_tokens"),
        (col("cum") <= budget).as("selected"))
  }

  /** Language rebalancing — the Pile/ROOTS-style corpus reshaping: give
    * each language a TARGET share of the (original) total token mass and
    * deterministically downsample overrepresented languages to it.
    * Per doc: `keep_prob` = min(1, share(lang) × total_tokens /
    * lang_tokens) (languages absent from `targetShares` keep 1.0 —
    * absent means "don't reshape", not "drop"), and `keep` = the FULL
    * 4-hex md5 value (exactly uniform over 0..65535) < keep_prob × 65536
    * — the same reproducible-anywhere hash gate as [[splitBucket]], so
    * reruns and other engines select the IDENTICAL document subset, with
    * no modulus bias in the realized keep rate.
    *
    * At scale: one partial-aggregated `groupBy(lang)` over token counts
    * (the language universe is tiny), rates broadcast back with a
    * NULL-SAFE join (a null-lang group gets a verdict and keeps its
    * docs), gate evaluated row-locally — the corpus never shuffles.
    */
  def rebalanceByLang(docs: DataFrame, targetShares: Map[String, Double]): DataFrame = {
    require(targetShares.values.forall(s => s >= 0.0 && s <= 1.0),
      s"target shares must be in [0,1], got $targetShares")
    val spark = docs.sparkSession
    val mass = docs
      .groupBy(col("lang"))
      .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("cur_tokens"))
    val tot = mass.agg(sum(col("cur_tokens")).as("total_tokens"))
    val shares = spark.createDataFrame(targetShares.toSeq).toDF("s_lang", "share")
    val rates = mass
      .crossJoin(tot)
      .join(shares, col("lang") <=> col("s_lang"), "left")
      .select(
        col("lang").as("r_lang"),
        // identical double-op order as the SQL oracle: share * total /
        // cur, least'd, then one round each for the report and the gate
        when(col("share").isNull, lit(1.0))
          .otherwise(least(
            lit(1.0),
            col("share") * col("total_tokens") / col("cur_tokens")))
          .as("raw"))
    docs
      .select(col("doc_id"), col("lang"))
      .join(broadcast(rates), col("lang") <=> col("r_lang"))
      .select(
        col("doc_id"),
        col("lang"),
        round(col("raw"), 4).as("keep_prob"),
        (hashBucket(col("doc_id"), 65536) < round(col("raw") * 65536))
          .as("keep"))
  }

  /** Deterministic global shuffle order — the reproducible corpus
    * permutation a training run reads documents in (seeded, so the same
    * seed always yields the same order on any cluster, and a different
    * seed decorrelates epochs). Each doc gets `shuffle_rank` = its
    * 0-based position when the corpus is ordered by
    * md5(seed ‖ ":" ‖ doc_id) (doc_id breaking the astronomically
    * unlikely digest tie). Doc ids must be UNIQUE and non-null — they
    * are identifiers; duplicate ids make the two rows' ranks
    * nondeterministic (identical sort tuples, see
    * [[runningTokenTotal]]'s total-order precondition). A null id sorts
    * LAST in both engines (nulls-last explicitly, matching the oracle's
    * ORDER BY default) rather than silently diverging.
    *
    * At scale: a global rank is the same distributed prefix-sum as
    * [[packSequences]] with a constant 1 as the value — range-partition
    * by the hash key (balanced, since the key is uniform), per-partition
    * counts collected (bounded by partition count) into broadcast
    * offsets, partition-local row numbering. No corpus-wide single-task
    * `ORDER BY` window ever runs.
    */
  def shuffleOrder(docs: DataFrame, seed: Long, idCol: String = "doc_id"): DataFrame =
    runningTokenTotal(
      docs.select(
        col(idCol).as("doc_id"),
        md5(concat(lit(seed.toString), lit(":"), col(idCol).cast("string")))
          .as("shuffle_key"),
        lit(1L).as("n_tokens")),
      Seq(col("shuffle_key").asc_nulls_last, col("doc_id").asc_nulls_last))
      .select(
        col("doc_id"),
        col("shuffle_key"),
        (col("cum") - 1).as("shuffle_rank"))

  /** The per-split rollup of the prepared corpus: documents that pass the
    * gopher gate and are the canonical copy of their exact-dup group,
    * counted and token-summed per train/val/test split.
    */
  def prepareRollup(docs: DataFrame): DataFrame =
    prepare(docs)
      .filter(col("keep"))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("total_ws_tokens"))
}
