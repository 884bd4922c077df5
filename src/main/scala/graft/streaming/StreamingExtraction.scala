package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.extract.Extractor
import graft.job.ExtractionJob
import graft.model.{DocResult, RawPage}

/** Structured Streaming surface: the same extraction kernels applied to a
  * stream of pages (continuous crawl ingestion), plus a watermarked windowed
  * quality rollup.
  *
  * The reference is strictly batch (SURVEY.md §2.12); its nearest streaming
  * analogue is the async job surface (mcp_server.py:106-254). This module is
  * the engine's forward door for continuous ingestion: extraction is a
  * stateless per-row kernel, so the batch and streaming paths share ALL
  * logic — a streaming micro-batch produces byte-identical rows to the batch
  * job on the same input (tested), and exactly-once delivery comes from the
  * sink checkpoint instead of the batch lineage table. The batch job has one
  * physical path — inline heavy fallback — and every streaming surface runs
  * exactly that path ([[Extractor.extractWithFallback]]).
  */
object StreamingExtraction {

  /** Stateless streaming transformation: RawPage stream -> DocResult stream,
    * with the batch job's inline heavy fallback.
    */
  def extract(pages: DataFrame, cfg: ExtractionJob.JobConfig)(
      implicit spark: SparkSession): Dataset[DocResult] = {
    import spark.implicits._
    val exCfg = cfg.extractorConfig
    pages
      .select(col("url"), col("warc_ts"), col("html"), col("text"), col("lang"))
      .as[RawPage]
      .mapPartitions(_.map(Extractor.extractWithFallback(_, exCfg)))
  }

  /** Per-content-hash dedup state: id of the first-seen doc, how many later
    * occurrences were dropped, and (TTL mode) the monotonic eviction
    * deadline in event-time ms — tracked in state because GroupState cannot
    * read back its own timeout, and an out-of-order OLDER duplicate must
    * never shrink the deadline.
    */
  final case class DedupState(first_url: String, dropped: Long, deadlineMs: Long = 0L)

  /** Kept output row of the streaming dedup. */
  final case class DedupedDoc(url: String, content_hash: String, extracted_text: String)

  /** Streaming first-seen-wins exact dedup via custom state
    * (`flatMapGroupsWithState`): the first document with a given content
    * hash is emitted; every later occurrence — in the same OR any later
    * micro-batch — is dropped and counted in state. This is the streaming
    * form of `Dedup.markDuplicates`, with the canonical-survivor decision
    * made incrementally instead of by a window over the full corpus.
    *
    * State is bounded with event-time eviction when `stateTtlMs > 0`: each
    * hash's eviction deadline is (last sighting's event time + TTL), and
    * once the watermark passes it the state is removed — so on an unbounded
    * crawl the state holds only the hashes seen within the TTL horizon, and
    * a duplicate arriving after the horizon is (by declared semantics)
    * re-emitted. `stateTtlMs = 0` keeps the unbounded exact semantics.
    *
    * LATE-ROW SEMANTICS (explicit, because it is data loss, not dedup): the
    * stream is watermarked by `allowedLatenessMs` (default: the TTL), and
    * Spark's stateful operator DROPS input rows older than the watermark
    * before they reach the state function — a document whose FIRST sighting
    * arrives later than the allowed lateness is not "re-emitted as novel",
    * it is silently absent from the output. Crawls with long out-of-order
    * tails should therefore set `allowedLatenessMs` to the worst-case
    * disorder bound while keeping `stateTtlMs` at the (typically much
    * longer) dedup-memory horizon — the two bounds are different knobs and
    * are only conflated by the default for backward compatibility.
    * `stateTtlMs = 0` with `allowedLatenessMs >= 0` is the lateness-only
    * mode: unbounded exact dedup memory, bounded input disorder.
    */
  def dedupedExtract(
      pages: DataFrame,
      cfg: ExtractionJob.JobConfig,
      stateTtlMs: Long = 0L,
      allowedLatenessMs: Long = -1L
  )(implicit spark: SparkSession): Dataset[DedupedDoc] = {
    import spark.implicits._
    val exCfg = cfg.extractorConfig
    val rows = pages
      .select(col("url"), col("warc_ts"), col("html"), col("text"), col("lang"))
      .as[RawPage]
      .mapPartitions { it =>
        // one digest per task, reset per row (r7) — the same B7 instance
        // discipline as Multimodal.imageMeta; getInstance per row paid a
        // provider lookup + allocation for every document on the stream
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { raw =>
          val d = Extractor.extractWithFallback(raw, exCfg)
          (md5Hex(md, d.extracted_text), d.url, d.extracted_text, raw.warc_ts, d.success)
        }
      }
      .filter(_._5)
      .toDF("hash", "url", "text", "warc_ts", "success")
    val withTtl = stateTtlMs > 0
    val lateness = if (allowedLatenessMs >= 0) allowedLatenessMs else stateTtlMs
    // the watermark is installed whenever EITHER knob asks for it: TTL mode
    // needs it for event-time timeouts; lateness-only mode (stateTtlMs = 0,
    // allowedLatenessMs >= 0) bounds late-row disorder while keeping
    // unbounded exact dedup memory
    val watermarked =
      if (withTtl || allowedLatenessMs >= 0)
        rows.withWatermark("warc_ts", s"$lateness milliseconds")
      else rows
    val timeoutConf =
      if (withTtl) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()
    val watermarkInstalled = withTtl || allowedLatenessMs >= 0
    watermarked
      .select(col("hash"), col("url"), col("text"), col("warc_ts"))
      .as[(String, String, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(
        (hash: String, rows: Iterator[(String, String, String, java.sql.Timestamp)],
         state: GroupState[DedupState]) => {
          if (state.hasTimedOut) {
            // watermark passed the hash's deadline: evict (bounded state)
            state.remove()
            Iterator.empty
          } else {
            // The engine only pre-filters late rows under EventTimeTimeout;
            // in lateness-only mode (NoTimeout + watermark) the declared
            // late-row drop is applied HERE, against the same watermark the
            // engine would use. Under TTL mode this is a no-op (already
            // engine-filtered).
            val wmMs =
              if (watermarkInstalled) state.getCurrentWatermarkMs() else Long.MinValue
            val kept = rows.filter(r => !watermarkInstalled || r._4.getTime >= wmMs)
            val batch = kept.toSeq.sortBy(_._2) // deterministic within-batch order
            if (batch.isEmpty) Iterator.empty[DedupedDoc]
            else {
              // MONOTONIC deadline: max over every sighting's (event time +
              // TTL) — an out-of-order older duplicate must not shrink it
              // and evict state early (clamped above the watermark; Spark
              // rejects timeout timestamps at or below it)
              val batchDeadline =
                if (withTtl) batch.iterator.map(_._4.getTime).max + stateTtlMs else 0L
              state.getOption match {
                case Some(s) =>
                  val deadline = math.max(s.deadlineMs, batchDeadline)
                  state.update(s.copy(dropped = s.dropped + batch.size, deadlineMs = deadline))
                  if (withTtl)
                    state.setTimeoutTimestamp(
                      math.max(deadline, state.getCurrentWatermarkMs() + 1))
                  Iterator.empty[DedupedDoc]
                case None =>
                  val first = batch.head
                  state.update(DedupState(first._2, batch.size - 1L, batchDeadline))
                  if (withTtl)
                    state.setTimeoutTimestamp(
                      math.max(batchDeadline, state.getCurrentWatermarkMs() + 1))
                  Iterator.single(DedupedDoc(first._2, hash, first._3))
              }
            }
          }
        })
  }

  private def md5Hex(md: java.security.MessageDigest, s: String): String = {
    md.reset()
    graft.util.Hashing.hexLower(
      md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  /** Watermarked per-window quality metrics over the extracted stream —
    * the streaming form of the batch lineage rollup: docs, failures, flags,
    * mean quality per crawl-timestamp window.
    */
  def qualityByWindow(
      pages: DataFrame,
      cfg: ExtractionJob.JobConfig,
      window: String = "1 minute",
      watermark: String = "2 minutes"
  )(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val exCfg = cfg.extractorConfig
    val docs = pages
      .select(col("url"), col("warc_ts"), col("html"), col("text"), col("lang"))
      .as[RawPage]
      .mapPartitions { it =>
        it.map { raw =>
          // same inline heavy fallback as extract(): the rollup must agree
          // with what actually lands in the sink
          val d = Extractor.extractWithFallback(raw, exCfg)
          (raw.warc_ts, d.success, d.quality.flagged, d.quality.score)
        }
      }
      .toDF("warc_ts", "success", "flagged", "score")
    docs
      .withWatermark("warc_ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("warc_ts"), window))
      .agg(
        count(lit(1)).as("docs"),
        sum(when(!col("success"), 1L).otherwise(0L)).as("failures"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("flagged"),
        avg(col("score")).as("mean_quality"))
      .select(
        col("window.start").as("window_start"),
        col("docs"), col("failures"), col("flagged"), col("mean_quality"))
  }
}
