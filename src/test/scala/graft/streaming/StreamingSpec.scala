package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.corpus.CorpusGen
import graft.job.ExtractionJob
import graft.model.RawPage

class StreamingSpec extends AnyFunSuite {
  private implicit lazy val spark: org.apache.spark.sql.SparkSession = SparkTestBase.spark

  private val cfg = ExtractionJob.JobConfig(numGroups = 8)

  test("streaming extraction produces byte-identical rows to the batch job") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rows = (0L until 60L).map(CorpusGen.genRow(42L, _))
    val stream = MemoryStream[RawPage]
    stream.addData(rows)

    val q = StreamingExtraction.extract(stream.toDF(), cfg)
      .writeStream
      .format("memory")
      .queryName("stream_extract")
      .outputMode(OutputMode.Append())
      .start()
    try q.processAllAvailable()
    finally q.stop()

    val streamed = spark.sql("SELECT url, extracted_text, engine, success FROM stream_extract")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3)))
      .sortBy(_._1)

    val batch = ExtractionJob.extract(CorpusGen.pages(spark, 60).toDF(), cfg)
      .collect().map(r => (r.url, r.extracted_text, r.engine, r.success))
      .sortBy(_._1)

    assert(streamed.toSeq == batch.toSeq)
  }

  test("a file-source stream restarted from its checkpoint emits every document exactly once") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-stream-restart").toFile
    // appends `rows` as parquet to the query's input, then runs the query
    // until every input file is processed; a later call resumes from the
    // same checkpoint
    def feed(name: String, rows: Seq[RawPage])(query: DataFrame => Dataset[_]): DataFrame = {
      rows.toDS().write.mode("append").parquet(s"$root/$name/in")
      val q = query(spark.readStream.schema(Encoders.product[RawPage].schema).parquet(s"$root/$name/in"))
        .writeStream
        .format("parquet")
        .option("checkpointLocation", s"$root/$name/ckpt")
        .trigger(Trigger.AvailableNow())
        .start(s"$root/$name/out")
      try q.awaitTermination()
      finally q.stop()
      spark.read.parquet(s"$root/$name/out")
    }
    try {
      val dedup = StreamingExtraction.dedupedExtract(_: DataFrame, cfg)
      feed("dedup", Seq(CorpusGen.genRow(42L, 3), CorpusGen.genRow(42L, 23)))(dedup)
      // same content as doc 3 under a new url: the restored state drops it
      val dup = CorpusGen.genRow(42L, 3).copy(url = "https://dup.example/doc/3")
      val deduped = feed("dedup", Seq(dup, CorpusGen.genRow(42L, 43)))(dedup)
        .select("url", "content_hash").as[(String, String)].collect().toSeq
      assert(deduped.groupBy(_._2).values.forall(_.size == 1), s"duplicate re-emitted: $deduped")
      assert(deduped.map(_._1).toSet == Set(3L, 23L, 43L).map(CorpusGen.url(42L, _)))

      val extract = StreamingExtraction.extract(_: DataFrame, cfg)
      feed("extract", (0L until 10L).map(CorpusGen.genRow(42L, _)))(extract)
      val urls = feed("extract", (10L until 15L).map(CorpusGen.genRow(42L, _)))(extract)
        .select("url").as[String].collect().toSeq.sorted
      assert(urls == (0L until 15L).map(CorpusGen.url(42L, _)).sorted)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  test("stateful streaming dedup drops duplicates across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // class-3 rows carry a clean passthrough text layer; re-adding the SAME
    // rows in a second micro-batch must be dropped by persisted state
    val batch1 = Seq(CorpusGen.genRow(42L, 3), CorpusGen.genRow(42L, 23))
    val batch2 = Seq(
      CorpusGen.genRow(42L, 3), // exact duplicate of batch1 row (same idx)
      CorpusGen.genRow(42L, 43)) // fresh row
    val stream = MemoryStream[RawPage]

    val q = StreamingExtraction.dedupedExtract(stream.toDF(), cfg)
      .writeStream
      .format("memory")
      .queryName("stream_dedup")
      .outputMode(OutputMode.Append())
      .start()
    try {
      stream.addData(batch1)
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM stream_dedup").head.getLong(0) == 2)
      stream.addData(batch2)
      q.processAllAvailable()
      val urls = spark.sql("SELECT url FROM stream_dedup").collect().map(_.getString(0)).toSet
      assert(urls.size == 3, s"duplicate re-emitted: $urls")
      assert(urls.contains(CorpusGen.url(42L, 43)))
    } finally q.stop()
  }

  test("streaming dedup state is evicted after the event-time TTL") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val ttlMs = 60000L // 1 minute
    val t0 = CorpusGen.Epoch
    def at(row: RawPage, ms: Long) = row.copy(warc_ts = new java.sql.Timestamp(ms))
    val a = at(CorpusGen.genRow(42L, 3), t0)
    val b = at(CorpusGen.genRow(42L, 23), t0 + 600000L) // +10 min
    val c = at(CorpusGen.genRow(42L, 43), t0 + 720000L) // +12 min
    // same content as `a` (hash collides), later than the TTL horizon
    val aDup = at(CorpusGen.genRow(42L, 3), t0 + 780000L)
      .copy(url = "https://dup.example/doc/3")

    val stream = MemoryStream[RawPage]
    val q = StreamingExtraction.dedupedExtract(stream.toDF(), cfg, stateTtlMs = ttlMs)
      .writeStream
      .format("memory")
      .queryName("stream_dedup_ttl")
      .outputMode(OutputMode.Append())
      .start()
    try {
      stream.addData(Seq(a)); q.processAllAvailable()       // emit a; deadline t0+1m
      stream.addData(Seq(b)); q.processAllAvailable()       // watermark -> t0+9m
      stream.addData(Seq(c)); q.processAllAvailable()       // a's state evicted here
      stream.addData(Seq(aDup)); q.processAllAvailable()    // re-emitted: state gone
      val rows = spark.sql("SELECT url, content_hash FROM stream_dedup_ttl")
        .collect().map(r => (r.getString(0), r.getString(1)))
      assert(rows.length == 4, s"expected a,b,c,aDup all emitted, got: ${rows.toSeq}")
      val hashCounts = rows.groupBy(_._2).view.mapValues(_.length).toMap
      assert(hashCounts.values.max == 2, "the evicted hash must re-emit after TTL")
      assert(rows.map(_._1).contains("https://dup.example/doc/3"))
    } finally q.stop()

    // and WITHOUT a TTL the same sequence keeps the duplicate suppressed
    val stream2 = MemoryStream[RawPage]
    val q2 = StreamingExtraction.dedupedExtract(stream2.toDF(), cfg)
      .writeStream.format("memory").queryName("stream_dedup_nottl")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(Seq(a), Seq(b), Seq(c), Seq(aDup)).foreach { batch =>
        stream2.addData(batch); q2.processAllAvailable()
      }
      assert(spark.sql("SELECT count(*) FROM stream_dedup_nottl").head.getLong(0) == 3)
    } finally q2.stop()
  }

  test("lateness-only mode: bounded disorder drop, unbounded dedup memory") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val t0 = CorpusGen.Epoch
    def at(row: RawPage, ms: Long) = row.copy(warc_ts = new java.sql.Timestamp(ms))
    val a = at(CorpusGen.genRow(42L, 3), t0)
    val b = at(CorpusGen.genRow(42L, 23), t0 + 600000L) // +10 min; wm -> +9 min
    // a NOVEL doc whose first sighting is older than the watermark: in
    // lateness-only mode this is the documented data-loss drop
    val tooLate = at(CorpusGen.genRow(42L, 43), t0 + 60000L)
    // a duplicate of `a` far beyond any TTL horizon: state must NOT have
    // been evicted (stateTtlMs = 0 keeps unbounded dedup memory)
    val aDup = at(CorpusGen.genRow(42L, 3), t0 + 720000L)
      .copy(url = "https://dup.example/doc/3")

    val stream = MemoryStream[RawPage]
    val q = StreamingExtraction
      .dedupedExtract(stream.toDF(), cfg, stateTtlMs = 0L, allowedLatenessMs = 60000L)
      .writeStream.format("memory").queryName("stream_dedup_lateonly")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(Seq(a)); q.processAllAvailable()
      stream.addData(Seq(b)); q.processAllAvailable() // advances wm to +9 min
      stream.addData(Seq(tooLate)); q.processAllAvailable() // dropped (late)
      stream.addData(Seq(aDup)); q.processAllAvailable() // deduped (state kept)
      val urls = spark.sql("SELECT url FROM stream_dedup_lateonly")
        .collect().map(_.getString(0)).toSet
      assert(urls == Set(a.url, b.url),
        s"late novel row dropped AND old duplicate suppressed; got $urls")
    } finally q.stop()
  }

  test("out-of-order older duplicate does not shrink the eviction deadline") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val ttlMs = 60000L
    val t0 = CorpusGen.Epoch
    def at(row: RawPage, ms: Long) = row.copy(warc_ts = new java.sql.Timestamp(ms))
    val a = at(CorpusGen.genRow(42L, 3), t0 + 100000L) // deadline t0+160s
    // older sighting of the SAME content (not late: watermark is t0+40s);
    // a non-monotonic deadline would shrink to t0+105s
    val aOld = at(CorpusGen.genRow(42L, 3), t0 + 45000L)
      .copy(url = "https://old.example/doc/3")
    val c = at(CorpusGen.genRow(42L, 43), t0 + 170000L) // wm -> t0+110s
    val d = at(CorpusGen.genRow(42L, 63), t0 + 171000L) // processed at wm t0+110s
    // within the true horizon (t0+160s): must STILL be suppressed
    val aAgain = at(CorpusGen.genRow(42L, 3), t0 + 115000L)
      .copy(url = "https://again.example/doc/3")

    val stream = MemoryStream[RawPage]
    val q = StreamingExtraction.dedupedExtract(stream.toDF(), cfg, stateTtlMs = ttlMs)
      .writeStream.format("memory").queryName("stream_dedup_mono")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(Seq(a), Seq(aOld), Seq(c), Seq(d), Seq(aAgain)).foreach { b =>
        stream.addData(b); q.processAllAvailable()
      }
      val rows = spark.sql("SELECT url, content_hash FROM stream_dedup_mono")
        .collect().map(r => (r.getString(0), r.getString(1)))
      val hashCounts = rows.groupBy(_._2).view.mapValues(_.length).toMap
      assert(hashCounts.values.max == 1,
        s"duplicate re-emitted inside the TTL horizon: ${rows.toSeq}")
      assert(rows.length == 3) // a, c, d
    } finally q.stop()
  }

  test("watermarked windowed quality rollup aggregates per window") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // rows span 200 seconds (1s apart) -> several 1-minute windows
    val rows = (0L until 200L).map(CorpusGen.genRow(42L, _))
    val stream = MemoryStream[RawPage]
    stream.addData(rows)

    val q = StreamingExtraction.qualityByWindow(stream.toDF(), cfg)
      .writeStream
      .format("memory")
      .queryName("stream_quality")
      .outputMode(OutputMode.Complete())
      .start()
    try q.processAllAvailable()
    finally q.stop()

    val out = spark.sql("SELECT * FROM stream_quality").collect()
    assert(out.length == 4) // 200s at 1 row/s -> windows 0,1,2,3
    assert(out.map(_.getAs[Long]("docs")).sum == 200)
    // failure classes 15-18 = 4/20 of rows
    assert(out.map(_.getAs[Long]("failures")).sum == 40)
  }
}
