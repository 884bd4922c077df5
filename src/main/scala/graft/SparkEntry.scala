package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.corpus.CorpusGen
import graft.job.ExtractionJob
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Driver contract — one `queries` entry per implemented operator family
  * (SURVEY.md §2 + the training-data ops), each with an independent ANSI SQL
  * oracle where the semantics are SQL-expressible. Non-SQL-expressible ops
  * (the extraction pipeline itself, hash-based sketches, approximate search)
  * carry no oracle and are verified by the ScalaTest golden-fixture and
  * recall suites instead.
  *
  * Query results are compared as multisets: the driver sorts each result's
  * rows before comparing it with its oracle. [[spread]] repartitions scans
  * round-robin, so scan row order differs between runs and core counts, and
  * no consumer of a query may depend on it.
  */
object SparkEntry {

  private def t(dir: String, name: String) = s"$dir/$name.parquet"

  /** Joins two per-`l_returnflag` aggregates back into one row per flag.
    * NULL-safe (`<=>`): GROUP BY keeps a NULL flag as a group of its own on
    * each side, and a plain equi-join would drop it. One flag column is
    * kept, as a USING join would.
    */
  private def joinOnFlag(a: DataFrame, b: DataFrame): DataFrame =
    a.as("a")
      .join(b.as("b"), col("a.l_returnflag") <=> col("b.l_returnflag"))
      .drop(col("b.l_returnflag"))

  /** Scan-parallelism guard for CPU-heavy row-local pipelines (guide §2.5
    * "input skew — one huge unsplittable file": repartition immediately
    * after the read). A small parquet table arrives as ONE scan split
    * (split packing charges every file `openCostInBytes` = 4 MB, and a
    * single-row-group file cannot be split at any byte boundary), so every
    * row-local kernel downstream — shingling, window-hash md5, quality
    * regexes, typed-map analyzers, payload synthesis — runs on one core
    * however many the session has, until the first shuffle. When the scan
    * has fewer partitions than the session's core count, redistribute
    * round-robin to `defaultParallelism` (derived from the master =
    * SPARK_GRAFT_CPUS — never a hard-coded constant). Scale-adaptive by
    * construction: at production scale an input carries at least one row
    * group per 128 MB split, the partition count exceeds the core count,
    * and the guard adds NO shuffle — it only fires where the alternative
    * is a single-task stage. Row-local results are partitioning-invariant,
    * so every query's output is byte-identical with or without it.
    */
  private def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (scanSplits(df) < target) df.repartition(target) else df
  }

  /** Partitions of `df`'s file scan, packed the way the scan packs them
    * (`FilePartition.maxSplitBytes`, then `getFilePartitions` over the
    * splits sorted by size), from file-index metadata alone: no physical
    * planning, unlike `df.rdd.getNumPartitions`, which plans the query on
    * every build. Any plan other than projections over one unbucketed file
    * relation falls back to the RDD's count.
    */
  private[graft] def scanSplits(df: DataFrame): Int = {
    def fileScan(p: LogicalPlan): Option[HadoopFsRelation] = p match {
      case Project(_, child) => fileScan(child)
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation if fs.bucketSpec.isEmpty => Some(fs)
        case _ => None
      }
      case _ => None
    }
    val s = df.sparkSession
    fileScan(df.queryExecution.analyzed).fold(df.rdd.getNumPartitions) { fs =>
      val dirs = fs.location.listFiles(Nil, Nil)
      val maxSplit = FilePartition.maxSplitBytes(s, dirs)
      val splits = dirs.flatMap(d => d.files.flatMap { f =>
        val splittable = fs.fileFormat.isSplitable(s, fs.options, f.getPath)
        PartitionedFileUtil.splitFiles(f, f.getPath, splittable, maxSplit, d.values)
      })
      FilePartition.getFilePartitions(s, splits.sortBy(-_.length), maxSplit).size
    }
  }

  /** [[spread]] applied to the documents table — the shared entry of the
    * kernel-heavy document queries.
    */
  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    spread(s.read.parquet(t(dir, "documents")))

  /** [[spread]] applied to the embeddings table (ANN / embedding-dedup). */
  private def embSpread(s: SparkSession, dir: String): DataFrame =
    spread(s.read.parquet(t(dir, "embeddings")))

  /** Deterministic md5 4-hex-digit doc bucket (uniform 0..99), shared by
    * the split query and the composed pipeline — physical-partitioning-
    * independent, reproducible anywhere md5 exists.
    */
  private def hashSplitBucket: org.apache.spark.sql.Column =
    graft.ops.Pipeline.splitBucket(col("doc_id"))

  private def hashSplitName: org.apache.spark.sql.Column =
    graft.ops.Pipeline.splitName(col("doc_id"))

  private def udf_topk(s: SparkSession) =
    org.apache.spark.sql.functions.udaf(new graft.ops.Aggregators.TopKTokens(20))

  /** Flagship: the full extraction pipeline over (a) the seeded synthetic
    * Common-Crawl-style corpus and (b) the driver's sf0.001 documents table
    * mapped in as passthrough text rows. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    implicit val s: SparkSession = spark
    val corpus = CorpusGen.pages(spark, 1000).toDF()
    // driver contract default; overridable so the flagship runs anywhere
    // (carried-wrong #4 from r1-r3 verdicts)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_ENTRY_SF_DIR", "/root/testdata/sf0.001")
    val docsAsPages = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .select(
        concat(lit("https://docs.example/"), col("doc_id")).as("url"),
        lit(new java.sql.Timestamp(CorpusGen.Epoch)).as("warc_ts"),
        lit(null).cast("binary").as("html"),
        col("text"),
        lit("en").as("lang"))
    val pages = corpus.unionByName(docsAsPages)
    val cfg = ExtractionJob.JobConfig(numGroups = 16)
    ExtractionJob.extract(pages, cfg)(spark)
      .select(col("url"), col("engine"), col("success"),
        round(col("quality.score"), 6).as("quality_score"),
        length(col("extracted_text")).cast("long").as("n_chars"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core (scan/filter/agg/join/window/setop/explode) ------
    "q_agg_filter" -> ((s, dir) => {
      s.read.parquet(t(dir, "lineitem"))
        .filter(col("l_shipdate") <= lit("2000-01-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("n_rows"))
    }),
    "q_join_broadcast" -> ((s, dir) => {
      val orders = s.read.parquet(t(dir, "orders"))
      val customer = s.read.parquet(t(dir, "customer"))
      val nation = s.read.parquet(t(dir, "nation"))
      orders
        .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
    }),
    "q_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      s.read.parquet(t(dir, "orders"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
    }),
    "q_semi_join" -> ((s, dir) => {
      s.read.parquet(t(dir, "customer"))
        .join(s.read.parquet(t(dir, "orders")),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),
    "q_anti_join" -> ((s, dir) => {
      s.read.parquet(t(dir, "customer"))
        .join(s.read.parquet(t(dir, "orders")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),
    "q_setop_except" -> ((s, dir) => {
      val orders = s.read.parquet(t(dir, "orders"))
      val y95 = orders.filter(year(col("o_orderdate")) === 1995)
        .select(col("o_custkey")).distinct()
      val y96 = orders.filter(year(col("o_orderdate")) === 1996)
        .select(col("o_custkey")).distinct()
      y95.except(y96)
    }),
    "q_approx_distinct" -> ((s, dir) => {
      // HLL++ sketch counting — the url-dedup cardinality shape at 10^12
      // rows where exact countDistinct's shuffle is unaffordable. No oracle:
      // sketch estimates are engine-specific (exact twin: q_distinct_count).
      s.read.parquet(t(dir, "lineitem"))
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
          approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
    }),
    // the sketch's driver-checked accuracy gate (same pattern as
    // q_ann_recall): exact cardinalities are oracle-recomputable, and the
    // booleans assert the HLL++ estimate sits within 3x its configured 2%
    // relative-error target — an estimator regression flips them and fails
    // the hash compare, converting the sketch from unmeasured to gated
    "q_approx_distinct_gate" -> ((s, dir) => {
      val li = s.read.parquet(t(dir, "lineitem"))
      // exact multi-distinct and the HLL sketches run as SEPARATE narrow
      // aggregations joined on the 3-row group key: folding the sketches
      // into the countDistinct aggregation would drag them through the
      // multi-distinct Expand (3x the input rows through the sketch
      // update path — measured 5x slower than the split form)
      // ...and the exact side itself splits per distinct column (r7): two
      // distinct columns in one agg still Expand-triple the input before
      // the exchange; one single-distinct agg per column partial-aggregates
      // map-side with no row multiplication (same values, same rows)
      val exact = joinOnFlag(
        li.groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_orderkey")).as("exact_orders")),
        li.groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_partkey")).as("exact_parts")))
      val sketch = li
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_orderkey"), 0.02).as("a_o"),
          approx_count_distinct(col("l_partkey"), 0.02).as("a_p"))
      joinOnFlag(exact, sketch)
        .select(
          col("l_returnflag"),
          col("exact_orders"),
          col("exact_parts"),
          (abs(col("a_o") - col("exact_orders")).cast("double") /
            col("exact_orders") <= 0.06).as("orders_within_tol"),
          (abs(col("a_p") - col("exact_parts")).cast("double") /
            col("exact_parts") <= 0.06).as("parts_within_tol"))
    }),
    // approx-quantile accuracy gate (same contract as the HLL gate): the
    // exact per-language length percentiles anchor the hash compare, the
    // booleans assert the KLL-style sketch (percentile_approx, accuracy
    // 1000) lands within 5% of them — a sketch regression flips a bit
    // and fails the driver hash
    "q_length_quantiles_gate" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      val exact = d.groupBy(col("lang")).agg(
        round(expr("percentile(n_chars, 0.5)"), 4).as("p50_exact"),
        round(expr("percentile(n_chars, 0.9)"), 4).as("p90_exact"))
      val approx = d.groupBy(col("lang")).agg(
        expr("percentile_approx(n_chars, 0.5, 1000)").as("a50"),
        expr("percentile_approx(n_chars, 0.9, 1000)").as("a90"))
      exact
        .join(approx, Seq("lang"))
        .select(
          col("lang"),
          col("p50_exact"),
          col("p90_exact"),
          (abs(col("a50") - col("p50_exact")) / col("p50_exact") <= 0.05)
            .as("p50_within_tol"),
          (abs(col("a90") - col("p90_exact")) / col("p90_exact") <= 0.05)
            .as("p90_within_tol"))
    }),
    "q_distinct_count" -> ((s, dir) => {
      // distinct-aggregation surface (url-dedup counting shape at scale;
      // approx_count_distinct is the 10^12-row variant, exact here for the
      // oracle). TWO single-distinct aggregations joined on the 3-row group
      // key, not one multi-distinct agg: two distinct columns in one agg
      // plan through an Expand that triples every input row before the
      // first exchange (3x the shuffle bytes — guide §2.3), while each
      // single-distinct agg partial-aggregates its own (flag, key) pairs
      // map-side with no row multiplication. Values are identical —
      // countDistinct per column is computed over the same rows either way.
      val li = s.read.parquet(t(dir, "lineitem"))
      val orders = li
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_orderkey")).as("n_orders"),
          count(lit(1)).as("n_rows"))
      val parts = li
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"))
      joinOnFlag(orders, parts)
        .select(col("l_returnflag"), col("n_orders"), col("n_parts"), col("n_rows"))
    }),
    "q_explode_tokens" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
    }),
    "q_json_extract" -> ((s, dir) => {
      // JSON scalar surface (the reference serializes every structured sink
      // as JSON, types.py:227-229): parse the events props payload, roll up
      s.read.parquet(t(dir, "events"))
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          round(avg(col("k")), 4).as("avg_k"))
    }),
    "q_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val ms = unix_millis(col("ts").cast("timestamp")) // parquet NTZ -> instant (UTC session)
      s.read.parquet(t(dir, "events"))
        .withColumn("prev_ms", lag(ms, 1).over(byUser))
        .withColumn(
          "new_session",
          when(col("prev_ms").isNull || ms - col("prev_ms") > 3600 * 1000, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"))
        .agg(max(col("session_id")).as("n_sessions"), count(lit(1)).as("n_events"))
    }),

    // ---- extraction-domain scalar surface over documents -------------------
    "q_punct_normalize" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .select(
          col("doc_id"),
          // explicit char class, not \s: Java's \s includes \x0B, RE2's
          // does not — the explicit class is identical in both dialects
          regexp_replace(
            regexp_replace(col("text"), "[ \\t\\n\\x0B\\f\\r]+([.,;:!?])", "$1"),
            "  +", " ").as("clean_text"))
    }),
    "q_quality_score" -> ((s, dir) =>
      TextAnalysis.qualityScore(s.read.parquet(t(dir, "documents")))),
    // Gopher/RefinedWeb-style repetition signals (within-doc duplicate
    // lines + top-bigram dominance)
    "q_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(s.read.parquet(t(dir, "documents")))),
    // Gopher Table-A1 document filter rules as pure Column arithmetic
    "q_gopher_filter" -> ((s, dir) =>
      TextAnalysis.gopherRules(docsSpread(s, dir))),
    "q_c4_filter" -> ((s, dir) =>
      TextAnalysis.c4LineFilter(s.read.parquet(t(dir, "documents")))),
    "q_pii_scrub" -> ((s, dir) =>
      TextAnalysis.piiScrub(docsSpread(s, dir))),
    // reference quality kernels over the documents table (rows-only checks:
    // regex/whitelist semantics aren't ANSI-SQL-expressible; the kernels'
    // correctness gate is the golden-fixture + unit suites)
    "q_garbled_signal" -> ((s, dir) => {
      import s.implicits._
      val analyzer = graft.text.QualityAnalyzer() // built once, shipped to executors
      spread(s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("text"))).as[(Long, String)]
        .map { case (id, text) =>
          val q = analyzer.analyzeWith(text, None) // one pass computes all signals
          (id, q.signalScores("garbled"), q.garbledCount, q.totalWords,
            q.signalScores("dictionary"), q.score, q.flagged)
        }
        .toDF("doc_id", "garbled_score", "garbled_count", "total_words",
          "dict_score", "composite_score", "flagged")
    }),
    "q_postprocess_chain" -> ((s, dir) => {
      import s.implicits._
      spread(s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("text"))).as[(Long, String)]
        .map { case (id, text) =>
          val (clean, counts) = graft.text.Postprocess(text)
          (id, clean, counts.getOrElse("paragraph_joins", 0),
            counts.getOrElse("punctuation_fixes", 0))
        }
        .toDF("doc_id", "clean_text", "paragraph_joins", "punctuation_fixes")
    }),
    "q_langid" -> ((s, dir) =>
      TextAnalysis.langId(docsSpread(s, dir))),
    "q_token_stats" -> ((s, dir) =>
      TextAnalysis.tokenStats(s.read.parquet(t(dir, "documents")))),
    "q_token_counts" -> ((s, dir) =>
      TextAnalysis.tokenCounts(s.read.parquet(t(dir, "documents")))),
    "q_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(s.read.parquet(t(dir, "documents")))),
    // WARC round trip under the oracle gate: each partition serializes its
    // documents as a real WARC archive (conversion records) and parses it
    // back through the production reader; the oracle recomputes the md5 of
    // each document's text, so any framing/encoding defect in EITHER the
    // writer or the reader breaks the hash compare. Fully distributed —
    // one archive per partition, no driver materialization.
    "q_warc_roundtrip" -> ((s, dir) => {
      import s.implicits._
      spread(s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("text")))
        .as[(Long, String)]
        .mapPartitions { it =>
          val rows = it.map { case (id, text) =>
            graft.model.RawPage(
              s"https://warc.example/$id",
              new java.sql.Timestamp(graft.corpus.CorpusGen.Epoch),
              null,
              if (text == null) "" else text,
              "en")
          }.toVector
          if (rows.isEmpty) Iterator.empty
          else {
            // lazy parse-back: one record in flight at a time (the archive
            // bytes are the only whole-partition buffer); any contained
            // parse error fails LOUDLY on drain rather than shrinking the
            // row count silently
            val bytes = graft.corpus.WarcGen.archive(rows)
            var errors = 0
            val it = graft.sources.Warc.recordIterator(
              new java.io.ByteArrayInputStream(bytes), () => errors += 1)
            new Iterator[(Long, String)] {
              override def hasNext: Boolean = {
                val h = it.hasNext
                if (!h) require(errors == 0, s"warc roundtrip errors: $errors")
                h
              }
              override def next(): (Long, String) = {
                val r = it.next()
                val id = r.targetUri.substring(r.targetUri.lastIndexOf('/') + 1).toLong
                (id, new String(r.payload, java.nio.charset.StandardCharsets.UTF_8))
              }
            }
          }
        }
        .toDF("doc_id", "payload")
        .select(col("doc_id"), md5(col("payload")).as("text_md5"))
    }),
    // url canonicalization over deterministically synthesized crawl-url
    // variants (uppercase authority, default ports, tracking params,
    // fragments, trailing slashes) — the pre-content-dedup key
    "q_url_canonicalize" -> ((s, dir) => {
      val id = col("doc_id")
      val url = concat(
        lit("HTTPS://WWW.Example"), pmod(id, lit(7)), lit(".COM"),
        when(pmod(id, lit(3)) === 0, lit(":443")).otherwise(lit("")),
        lit("/Path/"), id,
        when(pmod(id, lit(2)) === 0, lit("/")).otherwise(lit("")),
        when(pmod(id, lit(4)) === 0, concat(lit("?utm_source=a&utm_medium=b&id="), id))
          .when(pmod(id, lit(4)) === 1, concat(lit("?id="), id, lit("&fbclid=XYZ")))
          .when(pmod(id, lit(4)) === 2, lit("?utm_only=1"))
          .otherwise(lit("")),
        when(pmod(id, lit(5)) === 0, lit("#Frag")).otherwise(lit("")))
      s.read.parquet(t(dir, "documents"))
        .select(id, url.as("raw_url"))
        .select(id, col("raw_url"),
          TextAnalysis.canonicalizeUrl(col("raw_url")).as("canonical_url"))
    }),
    "q_topk_tokens" -> ((s, dir) =>
      // corpus top-k token frequency, fully distributed (explode ->
      // groupBy -> TakeOrderedAndProject) — the raw-web-vocab-safe shipped
      // operator; the typed Aggregator variant (bounded vocab) stays
      // available as Aggregators.TopKTokens and is exercised by
      // q_topk_tokens_agg below
      TextAnalysis.topKTokensDistributed(s.read.parquet(t(dir, "documents")), k = 20)),
    "q_topk_tokens_agg" -> ((s, dir) => {
      // same top-k via the typed Aggregator (one-pass, vocab-sized partial
      // buffers) — the UDAF-taxonomy slot, right when the vocabulary is
      // genuinely bounded; must agree with the distributed form
      val topk = udf_topk(s)
      s.read.parquet(t(dir, "documents"))
        .agg(topk(col("text")).as("top"))
        .select(posexplode(col("top")).as(Seq("rank0", "tc")))
        .select((col("rank0") + 1).cast("int").as("rank"),
          col("tc.token").as("token"), col("tc.cnt").as("cnt"))
    }),

    // ---- dedup family -------------------------------------------------------
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(s.read.parquet(t(dir, "documents")))),
    "q_dedup_mark" -> ((s, dir) =>
      Dedup.markDuplicates(s.read.parquet(t(dir, "documents")))
        .select(col("doc_id"), col("canonical_id"), col("is_duplicate"))),
    // the skinny form (text pruned before any exchange) must agree with
    // the annotating form row for row — previously value-parity-tested
    // only; now a driver-oracled row of its own (r6)
    "q_dedup_mark_ids" -> ((s, dir) =>
      Dedup.markDuplicatesIds(s.read.parquet(t(dir, "documents")))),
    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(s.read.parquet(t(dir, "documents")), n = 4, threshold = 0.8)(s)),
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashPairs(s.read.parquet(t(dir, "documents")), n = 4, threshold = 0.8)(s)),
    // connected-component cluster ids over the exact near-dup pair set:
    // each component keeps one survivor (doc_id == cluster_id)
    "q_dedup_clusters" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      Dedup.dupClusters(docs, Dedup.ngramJaccardPairs(docs, n = 4, threshold = 0.8)(s))(s)
    }),
    // a fixed query key: it runs the same one connected-components
    // operator as q_dedup_clusters, held to the identical oracle
    "q_dedup_clusters_star" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      Dedup.dupClusters(docs, Dedup.ngramJaccardPairs(docs, n = 4, threshold = 0.8)(s))(s)
    }),
    // quality-aware canonical selection: each near-dup cluster keeps its
    // highest-quality member (char count as the quality, ties -> min id)
    "q_dedup_keep_best" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      Dedup.keepBestInCluster(
        Dedup.dupClusters(docs, Dedup.ngramJaccardPairs(docs, n = 4, threshold = 0.8)(s))(s),
        docs.select(col("doc_id"), col("n_chars").as("quality")))
    }),
    // train/test decontamination: treat even doc_ids as the training set
    // and score every doc's 8-gram overlap against it (even docs read 1.0
    // by construction; odd docs score by genuine shared content)
    "q_contamination" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      Dedup.contamination(docs.filter(pmod(col("doc_id"), lit(2)) === 0), docs, n = 8)(s)
    }),
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashes(s.read.parquet(t(dir, "documents")))(s)),
    "q_dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(s.read.parquet(t(dir, "documents")), radius = 3)(s)),
    "q_dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingDupPairs(embSpread(s, dir), threshold = 0.4)),
    // sub-document dedup signal: duplicated sliding-window fraction per doc
    "q_passage_dedup" -> ((s, dir) =>
      Dedup.passageDupStats(s.read.parquet(t(dir, "documents")), n = 10)),
    // duplicated-SPAN masking (exact substring dedup, Lee et al. 2022):
    // the flat span listing and the per-doc rollup ride the same operator
    "q_dup_spans" -> ((s, dir) =>
      Dedup.dupSpanList(s.read.parquet(t(dir, "documents")), n = 10)),
    "q_dup_spans_stats" -> ((s, dir) =>
      Dedup.dupSpans(s.read.parquet(t(dir, "documents")), n = 10)
        .select(col("doc_id"), col("dup_tokens"), col("total_tokens"))),
    // the cut step: rewrite each doc with its duplicated spans removed
    "q_cut_dup_spans" -> ((s, dir) =>
      Dedup.cutDupSpans(s.read.parquet(t(dir, "documents")), n = 10)),
    // keep-one-copy variant: the globally first occurrence of each
    // duplicated window is elected canonical and survives the cut
    "q_cut_dup_spans_keep1" -> ((s, dir) =>
      Dedup.cutDupSpansKeepFirst(s.read.parquet(t(dir, "documents")), n = 10)),
    // concatenate-and-chunk sequence packing over the distributed prefix sum
    "q_pack_sequences" -> ((s, dir) =>
      graft.ops.Pipeline.packSequences(
        s.read.parquet(t(dir, "documents")), capacity = 2048L)),
    // quality-ranked token-budget selection (same distributed prefix sum,
    // ordered by the ranking key instead of doc_id)
    "q_select_budget" -> ((s, dir) =>
      graft.ops.Pipeline.selectBudget(
        docsSpread(s, dir), budget = 5000L)),
    // host-level reputation: two-level filter computed from the corpus
    // itself (per-source flagged fraction with an evidence floor)
    "q_source_reputation" -> ((s, dir) =>
      TextAnalysis.sourceReputation(s.read.parquet(t(dir, "documents")))),
    "q_source_filter" -> ((s, dir) =>
      TextAnalysis.sourceFilter(s.read.parquet(t(dir, "documents")))),
    // corpus-frequency rarity (the integer-exact CCNet-filter analogue)
    // and the Zipf vocabulary panel
    "q_token_rarity" -> ((s, dir) =>
      TextAnalysis.tokenRarity(s.read.parquet(t(dir, "documents")))),
    "q_vocab_stats" -> ((s, dir) =>
      TextAnalysis.vocabStats(s.read.parquet(t(dir, "documents")))),
    // Pile/ROOTS-style language rebalancing: uniform 20% token-share
    // target downsamples the dominant language, keeps the rest whole
    "q_rebalance_lang" -> ((s, dir) =>
      graft.ops.Pipeline.rebalanceByLang(
        s.read.parquet(t(dir, "documents")),
        Map("de" -> 0.2, "en" -> 0.2, "es" -> 0.2, "fr" -> 0.2, "zh" -> 0.2))),
    // RAG-style sliding-window chunking (50-token windows, stride 40)
    "q_chunk_tokens" -> ((s, dir) =>
      TextAnalysis.chunkTokens(
        s.read.parquet(t(dir, "documents")), size = 50, stride = 40)),
    // TF-IDF keyword extraction: top-3 inverse-frequency terms per doc
    "q_tfidf_keywords" -> ((s, dir) =>
      TextAnalysis.tfidfKeywords(s.read.parquet(t(dir, "documents")), k = 3)),
    // seeded reproducible training order (distributed global rank)
    "q_shuffle_order" -> ((s, dir) =>
      graft.ops.Pipeline.shuffleOrder(
        s.read.parquet(t(dir, "documents")), seed = 42L)),
    // deterministic md5-bucket corpus split (train/val/test) — physical-
    // partitioning-independent, reproducible anywhere md5 exists. The first
    // FOUR hex digits parse to a uniform 0..65535 value (two raw ascii codes
    // would be lumpy mod 100)
    "q_hash_split" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), hashSplitBucket.cast("int").as("bucket"),
          hashSplitName.as("split"))),
    // the full corpus-preparation chain composed from the shipped
    // operators: Gopher quality gate -> exact-dup survivors ->
    // deterministic split -> per-split size rollup. One oracled query
    // proving the operators compose (each stage is independently oracled
    // above); at scale every stage is the already-audited skew-safe plan.
    // fused single-pass form (VERDICT r3 #6): gopher gate + exact-dup
    // canonicalization + split in ONE scan and ONE corpus shuffle via
    // groupBy(text_hash).agg(min_by(...)) — same oracle as the previous
    // three-scan compose (gopherRules + markDuplicates + join-back)
    "q_pipeline_compose" -> ((s, dir) =>
      graft.ops.Pipeline.prepareRollup(s.read.parquet(t(dir, "documents")))),
    // label-free variant: multi-table sign-LSH blocking + exact verification.
    // The synthetic embeddings are diffuse (max pairwise cosine ~0.6), so
    // dup-grade pairs are PLANTED: copies of vec_id<5 re-keyed +100000 — the
    // operator must find exactly those five cos=1.0 pairs with no label help.
    "q_dedup_embedding_lsh" -> ((s, dir) => {
      val base = s.read.parquet(t(dir, "embeddings"))
      val planted = base.filter(col("vec_id") < 5)
        .withColumn("vec_id", col("vec_id") + lit(100000L))
      Dedup.embeddingDupPairsLsh(base.unionByName(planted), threshold = 0.95)
    }),

    // ---- similarity search --------------------------------------------------
    "q_ann_brute" -> ((s, dir) =>
      Similarity.bruteForceTopK(
        s.read.parquet(t(dir, "embeddings")), col("vec_id") < 10, k = 5)),
    // multi-table sign-LSH (6 tables x 3 planes): the measured >=0.9-recall
    // configuration on the diffuse driver embeddings (tools.AnnRecallProbe)
    "q_ann_lsh" -> ((s, dir) =>
      Similarity.lshTopK(
        s.read.parquet(t(dir, "embeddings")), col("vec_id") < 10, k = 5,
        planes = 3, nTables = 6)(s)),
    "q_ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(
        s.read.parquet(t(dir, "embeddings")), col("vec_id") < 10, k = 5)(s)),
    // recall@5 of both approximate indexes against the in-Spark brute-force
    // truth (VERDICT r3 #2): join on (q_id, neighbor_id), one small agg per
    // method. The oracle recomputes the truth-pair count from the embeddings
    // table via the same brute-force SQL as q_ann_brute and asserts the
    // >=0.9 recall floor — so a recall regression in either index flips
    // recall_ok and fails the hash compare, making the ANN quality gate a
    // driver-checked oracle row instead of a unit-test-only bound.
    "q_ann_recall" -> ((s, dir) => {
      val emb = s.read.parquet(t(dir, "embeddings"))
      // the truth side feeds BOTH method gates below: materialize it once
      // per invocation (r7) instead of re-running the brute-force
      // broadcast-join + window subtree for each gate (same
      // materialize-for-N-consumers discipline as the dedup postings;
      // computed within the timed query, never across runs).
      // localCheckpoint(true) is eager: BUILDING this DataFrame runs the
      // brute-force truth job, so explain-only consumers (PlanCheck) pay for
      // that job too. The checkpoint blocks are local, so the
      // ContextCleaner reclaims them once the returned plan is dropped (the
      // Dedup.truncateLineage local-checkpoint contract).
      val truth = Similarity
        .bruteForceTopK(emb, col("vec_id") < 10, k = 5)
        .select(col("q_id"), col("neighbor_id"))
        .localCheckpoint(true)
      def gate(approx: DataFrame, method: String): DataFrame =
        truth
          .join(
            approx
              .select(col("q_id"), col("neighbor_id"))
              .withColumn("__hit", lit(1)),
            Seq("q_id", "neighbor_id"),
            "left")
          .agg(
            count(lit(1)).as("truth_pairs"),
            count(col("__hit")).as("hit_pairs"))
          .select(
            lit(method).as("method"),
            col("truth_pairs"),
            (col("hit_pairs").cast("double") / col("truth_pairs") >= 0.9)
              .as("recall_ok"))
      // parameters are the measured >=0.9 operating points on the diffuse
      // driver embeddings (tools.AnnRecallProbe: ivf nProbe=12 -> 0.96/0.92
      // at sf0.01/sf0.1; lsh 6x3 multi-table -> 1.0/1.0). The defaults the
      // operators ship with are corpus-dependent dials, not the gate.
      gate(
        Similarity.ivfTopK(emb, col("vec_id") < 10, k = 5, nProbe = 12)(s),
        "ivf")
        .unionByName(
          gate(
            Similarity.lshTopK(emb, col("vec_id") < 10, k = 5,
              planes = 3, nTables = 6)(s),
            "lsh"))
        .orderBy("method")
    }),

    // ---- multimodal: REAL still-image metadata decode -----------------------
    // Payloads are actual PNG/JPEG/GIF/BMP bytes (JDK ImageIO encoders)
    // with dimensions planted per the closed form in CorpusGen.mediaWidth/
    // mediaHeight, plus a no-magic garbage class and an empty class. The
    // header parser must recover the planted dims FROM THE BYTES — the
    // oracle recomputes the planted values, so any parse defect (wrong
    // offset, endianness, marker walk) breaks the hash compare. Byte-level
    // golden fixtures pin the parser against fixed offsets independently
    // (MultimodalSpec). Bench note: the timed cost includes the
    // deterministic ImageIO payload synthesis (memory-cached encoders),
    // not just the header parse — there is no at-rest media table to read.
    "q_multimodal_meta" -> ((s, dir) => {
      import s.implicits._
      val ids = spread(
        s.read.parquet(t(dir, "documents")).select(col("doc_id").cast("long"))).as[Long]
      val media = graft.corpus.CorpusGen.mediaFrame(ids)
      Multimodal.imageMeta(media)(s)
        .select(col("content_id"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          col("format"))
    }),
    "q_frame_sample" -> ((s, dir) => {
      val media = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id").as("content_id"), col("text").cast("binary").as("payload"))
      Multimodal.sampleFrames(media)(s)
    }),

    // ---- the extraction pipeline itself -------------------------------------
    // q_extract_pipeline / q_extract_summary stay rows-only (their logic is
    // not SQL-expressible); the *_gate companions below freeze their full
    // output as an order-insensitive digest compared against a committed
    // constant in oracleSql — converting the last two unverified driver
    // rows into hash-gated ones (VERDICT r5 #5). Golden fixtures
    // (GoldenFixtureSpec) pin the same kernels byte-level independently.
    "q_extract_pipeline" -> ((s, dir) => extractPipelineDf(s)),
    "q_extract_summary" -> ((s, dir) => {
      val pages = CorpusGen.pages(s, 2000).toDF()
      val cfg = ExtractionJob.JobConfig(numGroups = 16)
      ExtractionJob.summarize(ExtractionJob.extract(pages, cfg)(s))
    }),
    // Digest gates: the corpus is seeded and deterministic (CorpusGen,
    // independent of the sf dir), so the md5 of the sorted canonical row
    // reprs is a constant — any behavior drift in extraction, quality
    // scoring, engine routing or postprocess flips the digest and fails
    // the driver's hash compare. An intended kernel change regenerates the
    // constant via `runMain graft.tools.GateDigest` (prints both rows).
    "q_extract_pipeline_gate" -> ((s, dir) => {
      val repr = concat_ws("|",
        col("url"), col("engine"), col("success").cast("string"),
        format_string("%.6f", col("quality_score")), col("n_chars").cast("string"))
      extractPipelineDf(s)
        .select(repr.as("r"))
        .agg(count(lit(1)).as("n_rows"),
          md5(array_join(sort_array(collect_list(col("r"))), "\n").cast("binary"))
            .as("digest"))
    }),
    "q_extract_summary_gate" -> ((s, dir) => {
      val pages = CorpusGen.pages(s, 2000).toDF()
      val cfg = ExtractionJob.JobConfig(numGroups = 16)
      // integer columns only: mean_quality is a cross-row double AVG whose
      // partial-combine order depends on partitioning, so freezing its
      // formatted value could flake on an ulp at a rounding boundary under
      // a different parallelism. Score drift is already caught per row (no
      // accumulation) by q_extract_pipeline_gate's round(score,6) repr.
      val repr = concat_ws("|",
        col("engine"), col("docs").cast("string"), col("errors").cast("string"),
        col("flagged").cast("string"), col("bytes").cast("string"))
      ExtractionJob.summarize(ExtractionJob.extract(pages, cfg)(s))
        .select(repr.as("r"))
        .agg(count(lit(1)).as("n_rows"),
          md5(array_join(sort_array(collect_list(col("r"))), "\n").cast("binary"))
            .as("digest"))
    })
  )

  /** The flagship 2000-page extraction projection shared by
    * q_extract_pipeline and its digest gate.
    */
  private def extractPipelineDf(s: SparkSession): DataFrame = {
    val pages = CorpusGen.pages(s, 2000).toDF()
    val cfg = ExtractionJob.JobConfig(numGroups = 16)
    ExtractionJob.extract(pages, cfg)(s)
      .select(col("url"), col("engine"), col("success"),
        round(col("quality.score"), 6).as("quality_score"),
        length(col("extracted_text")).cast("long").as("n_chars"))
  }

  /** DuckDB re-implementation of the simhash64 kernel (FNV-1a over UTF-8
    * bytes + splitmix64 finalizer + per-bit majority vote), shared by the
    * q_dedup_simhash / q_dedup_simhash_pairs oracles. 64-bit wraparound
    * multiplication runs in UHUGEINT mod 2^64; unsigned-shift-right and the
    * signed/unsigned conversions are spelled out because BIGINT is signed.
    */
  private val SimhashCte: String = {
    val uns = "18446744073709551616" // 2^64
    val half = "9223372036854775808" // 2^63
    def toU(z: String) =
      s"(CASE WHEN $z < 0 THEN ($z::HUGEINT + $uns::HUGEINT)::UHUGEINT ELSE $z::UHUGEINT END)"
    def toS(u: String) =
      s"(CASE WHEN $u >= $half::UHUGEINT THEN ($u::HUGEINT - $uns::HUGEINT)::BIGINT ELSE $u::BIGINT END)"
    def mulmod(z: String, c: String) = toS(s"((${toU(z)} * $c::UHUGEINT) % $uns::UHUGEINT)")
    def xorshift(z: String) = s"xor($z, (${toU(z)} >> 33)::BIGINT)"
    val fnvInit = "-3750763034362895579" // 0xcbf29ce484222325 as signed
    val c0 = "1099511628211" // FNV-1a prime
    val c1 = "18397679294719823053" // mix64 multiplier 1 (0xff51afd7ed558ccd)
    val c2 = "14181476777654086739" // mix64 multiplier 2 (0xc4ceb9fe1a85ec53)
    s"""toks AS (
         SELECT doc_id, hex(encode(t)) AS hx, octet_length(encode(t)) AS nb
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
         WHERE t <> ''),
       fnv AS (
         SELECT doc_id,
           list_reduce(
             list_prepend($fnvInit::BIGINT,
               list_transform(range(1, 2*nb+1, 2),
                 i -> (16*(instr('0123456789ABCDEF', hx[i::INT])-1)
                      + (instr('0123456789ABCDEF', hx[(i+1)::INT])-1))::BIGINT)),
             (h, b) -> ${mulmod("xor(h, b)", c0)}) AS z0
         FROM toks),
       hashed AS (
         SELECT doc_id,
           list_reduce(
             list_prepend(z0, [0,1,0,2,0]::BIGINT[]),
             (z, op) -> CASE WHEN op = 0 THEN ${xorshift("z")}
                             WHEN op = 1 THEN ${mulmod("z", c1)}
                             ELSE ${mulmod("z", c2)} END) AS h
         FROM fnv),
       bits AS (
         SELECT doc_id, b,
           sum(CASE WHEN ((h >> b::INT) & 1) = 1 THEN 1 ELSE -1 END) AS cnt
         FROM hashed CROSS JOIN (SELECT unnest(range(0, 64)) AS b)
         GROUP BY doc_id, b),
       sim AS (
         SELECT d.doc_id, coalesce(s.simhash, 0)::BIGINT AS simhash
         FROM documents d LEFT JOIN (
           SELECT doc_id,
             sum(CASE WHEN cnt > 0 THEN
               CASE WHEN b = 63 THEN -$half ELSE (1::BIGINT << b::INT) END
               ELSE 0 END)::BIGINT AS simhash
           FROM bits GROUP BY doc_id) s ON d.doc_id = s.doc_id)"""
  }

  /** Implementation-independent connected-components oracle (recursive
    * min-label reachability over the exact >=0.8 n-gram pair set) — shared
    * by the label-propagation and star-contraction cluster queries.
    */
  /** Recursive-reachability cluster CTE chain ending in
    * `clus(doc_id, cluster_id)` — the implementation-independent labelling
    * shared by q_dedup_clusters, q_dedup_clusters_star, and the
    * quality-aware canonical-selection oracle.
    */
  private val ClustersCteSql: String =
    """WITH RECURSIVE tok AS (
         SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       sh AS (
         SELECT doc_id,
           list_distinct(CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
             ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                   for i in range(1, len(w) - 2)] END) AS s
         FROM tok),
       pairs AS (
         SELECT a.doc_id AS a_id, b.doc_id AS b_id
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.s, b.s)) > 0
           AND round(len(list_intersect(a.s, b.s))::DOUBLE /
               (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) >= 0.8),
       edges AS (
         SELECT a_id AS src, b_id AS dst FROM pairs
         UNION ALL SELECT b_id, a_id FROM pairs),
       reach(node, lbl) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
       clus AS (
         SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node)"""

  private val ClustersOracleSql: String =
    ClustersCteSql + " SELECT doc_id, cluster_id FROM clus"

  /** Quality-score CTE chain ending in `qsco(doc_id, n_tokens,
    * avg_word_len, stop_signal, digit_signal, quality_score)` — ONE SQL
    * definition of the composite (mirrors
    * `TextAnalysis.qualityScoreCol`), shared by q_quality_score, the
    * source-reputation oracles, and the budget-selection oracle so the
    * score cannot fork across consumers. `quality_score` is rounded to 4
    * decimals (the bit-identical cross-engine form); the raw signals stay
    * unrounded for q_quality_score's own reporting columns.
    */
  private val QualityCteSql: String =
    """base AS (
           SELECT doc_id, text,
             len(string_split(text, ' '))::DOUBLE AS n_tokens,
             ((length(' ' || text || ' ') -
               length(replace(' ' || text || ' ', ' the ', ''))) / 5 +
              (length(' ' || text || ' ') -
               length(replace(' ' || text || ' ', ' a ', ''))) / 3 +
              (length(' ' || text || ' ') -
               length(replace(' ' || text || ' ', ' of ', ''))) / 4 +
              (length(' ' || text || ' ') -
               length(replace(' ' || text || ' ', ' and ', ''))) / 5 +
              (length(' ' || text || ' ') -
               length(replace(' ' || text || ' ', ' in ', ''))) / 4)::DOUBLE AS stopwords,
             (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE AS digits
           FROM documents),
         sig AS (
           SELECT doc_id, n_tokens,
             (length(text) - (n_tokens - 1)) / n_tokens AS avg_word_len,
             least(1.0, n_tokens / 100.0) AS length_signal,
             least(1.0, stopwords / n_tokens * 8.0) AS stop_signal,
             1.0 - least(1.0, digits / length(text) * 4.0) AS digit_signal
           FROM base),
         qsco AS (
           SELECT doc_id, n_tokens, avg_word_len, stop_signal, digit_signal,
             round(0.3 * length_signal + 0.3 * stop_signal +
               0.2 * digit_signal +
               0.2 * (CASE WHEN avg_word_len >= 3.0 AND avg_word_len <= 8.0
                      THEN 1.0 ELSE 0.5 END), 4) AS quality_score
           FROM sig)"""

  /** Source-reputation CTE over [[QualityCteSql]]: per-source doc count,
    * flagged count (quality_score < 0.5), and the keep verdict (below the
    * 20-doc evidence floor OR flagged fraction <= 0.5) — shared by
    * q_source_reputation and q_source_filter.
    */
  private val SourceRepCteSql: String = QualityCteSql +
    """,
         rep AS (
           SELECT d.source, count(*) AS n_docs,
             sum(CASE WHEN q.quality_score < 0.5 THEN 1 ELSE 0 END)::BIGINT
               AS n_flagged
           FROM qsco q JOIN documents d USING (doc_id)
           GROUP BY d.source),
         verdict AS (
           SELECT source, n_docs, n_flagged,
             round(n_flagged::DOUBLE / n_docs, 4) AS flagged_frac,
             (n_docs < 20 OR n_flagged::DOUBLE / n_docs <= 0.5)
               AS keep_source
           FROM rep)"""

  /** The md5 4-hex-digit bucket of `doc_id` as SQL, parameterized by
    * modulus — ONE definition of the hex decode (mirrors
    * `Pipeline.hashBucket`) shared by q_hash_split, q_pipeline_compose,
    * and q_rebalance_lang so the arithmetic cannot fork.
    */
  private def md5BucketSql(mod: Int): String = {
    def hexVal(i: Int) =
      s"""(ascii(substr(md5(doc_id::VARCHAR), $i, 1)) - 48
                 - 39 * CASE WHEN ascii(substr(md5(doc_id::VARCHAR), $i, 1)) >= 97 THEN 1 ELSE 0 END)"""
    s"""(${hexVal(1)} * 4096
              + ${hexVal(2)} * 256
              + ${hexVal(3)} * 16
              + ${hexVal(4)}
             ) % $mod"""
  }

  /** Gopher Table-A1 filter oracle — shared by q_gopher_filter and the
    * composed-pipeline oracle (embedded as a subquery there).
    */
  private val GopherOracleSql: String =
    """WITH base AS (
           SELECT doc_id, text,
             replace(text, chr(10), ' ') AS flat,
             regexp_extract_all(text, '[^ \n]+') AS words,
             list_filter(string_split(text, chr(10)), l -> l <> '') AS lines
           FROM documents),
         m AS (
           SELECT doc_id,
             len(words) AS word_count,
             len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
             length(regexp_replace(text, '[ \n]', '', 'g')) AS char_count,
             len(lines) AS n_lines,
             len(list_filter(lines, l -> starts_with(l, '- ') OR starts_with(l, '• ')))
               AS bullet_lines,
             len(list_filter(lines, l -> l LIKE '%...' OR l LIKE '%…')) AS ellipsis_lines,
             (length(flat) - length(replace(flat, '#', ''))) AS hash_count,
             (length(flat) - length(replace(flat, '...', ''))) / 3 +
               (length(flat) - length(replace(flat, '…', ''))) AS ellipsis_count,
             (CASE WHEN contains(' ' || lower(flat) || ' ', ' the ') THEN 1 ELSE 0 END) +
             (CASE WHEN contains(' ' || lower(flat) || ' ', ' be ') THEN 1 ELSE 0 END) +
             (CASE WHEN contains(' ' || lower(flat) || ' ', ' to ') THEN 1 ELSE 0 END) +
             (CASE WHEN contains(' ' || lower(flat) || ' ', ' of ') THEN 1 ELSE 0 END) +
             (CASE WHEN contains(' ' || lower(flat) || ' ', ' and ') THEN 1 ELSE 0 END) +
             (CASE WHEN contains(' ' || lower(flat) || ' ', ' that ') THEN 1 ELSE 0 END) +
             (CASE WHEN contains(' ' || lower(flat) || ' ', ' have ') THEN 1 ELSE 0 END) +
             (CASE WHEN contains(' ' || lower(flat) || ' ', ' with ') THEN 1 ELSE 0 END)
               AS stop_hits
           FROM base),
         -- zero-divisor guards mirror the Spark perWord/perLine definition
         -- (ratio = 0.0 for empty/wordless docs), so the oracle stays
         -- corpus-independent rather than relying on the fixtures never
         -- containing a zero-word document
         g AS (
           SELECT *,
             CASE WHEN word_count > 0 THEN char_count::DOUBLE / word_count
                  ELSE 0.0 END AS g_mean_word_len,
             CASE WHEN word_count > 0
                  THEN (hash_count + ellipsis_count)::DOUBLE / word_count
                  ELSE 0.0 END AS g_symbol_ratio,
             CASE WHEN word_count > 0 THEN alpha_words::DOUBLE / word_count
                  ELSE 0.0 END AS g_alpha_word_frac,
             CASE WHEN n_lines > 0 THEN bullet_lines::DOUBLE / n_lines
                  ELSE 0.0 END AS g_bullet_frac,
             CASE WHEN n_lines > 0 THEN ellipsis_lines::DOUBLE / n_lines
                  ELSE 0.0 END AS g_ellipsis_frac
           FROM m),
         r AS (
           SELECT doc_id, word_count,
             g_mean_word_len AS mean_word_len,
             g_symbol_ratio AS symbol_ratio,
             g_alpha_word_frac AS alpha_word_frac,
             stop_hits,
             (word_count BETWEEN 50 AND 100000) AS r_word_count,
             (g_mean_word_len BETWEEN 3.0 AND 10.0) AS r_mean_word_len,
             (g_symbol_ratio < 0.1) AS r_symbol_ratio,
             (g_bullet_frac <= 0.9) AS r_bullet_lines,
             (g_ellipsis_frac <= 0.3) AS r_ellipsis_lines,
             (g_alpha_word_frac >= 0.8) AS r_alpha_words,
             (stop_hits >= 2) AS r_stopwords
           FROM g)
         SELECT doc_id, word_count::BIGINT AS word_count,
           round(mean_word_len, 4) AS mean_word_len,
           round(symbol_ratio, 4) AS symbol_ratio,
           round(alpha_word_frac, 4) AS alpha_word_frac,
           stop_hits::INT AS stop_hits,
           r_word_count, r_mean_word_len, r_symbol_ratio, r_bullet_lines,
           r_ellipsis_lines, r_alpha_words, r_stopwords,
           (r_word_count AND r_mean_word_len AND r_symbol_ratio AND r_bullet_lines
            AND r_ellipsis_lines AND r_alpha_words AND r_stopwords) AS keep
         FROM r"""

  /** Shared CTE base of the span-dedup oracles: tokenization, sliding
    * 10-token window hashes, and the corpus-duplicated hash set (df >= 2
    * distinct docs) — ONE definition mirroring the single Scala
    * definition in `Dedup.windowHashes` / `dupHashes`.
    */
  private val SpanBaseCteSql: String =
    """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS t
           FROM documents WHERE text IS NOT NULL),
         wins AS (
           SELECT doc_id, i, md5(array_to_string(t[i:i+9], ' ')) AS h
           FROM (SELECT doc_id, t,
                   unnest(range(1, greatest(len(t)-9, 0)+1)) AS i
                 FROM toks)),
         dupk AS (
           SELECT h FROM (SELECT DISTINCT h, doc_id FROM wins)
           GROUP BY h HAVING count(*) >= 2)"""

  /** Island-merge CTEs over a `(doc_id, i)` cut-window source CTE:
    * token-interval islands (gap <= n = 10) merged into maximal spans —
    * ONE definition of the merge rule (mirrors `Dedup.mergeIslands`)
    * parameterized by the source so the cut-all and keep-first pipelines
    * cannot desynchronize on it.
    */
  private def islandSql(src: String): String =
    s""",
         isl AS (
           SELECT doc_id, i,
             sum(CASE WHEN prev IS NULL OR i - prev > 10 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY i) AS span_id
           FROM (SELECT doc_id, i,
                   lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev
                 FROM $src)),
         spans AS (
           SELECT doc_id, min(i) AS s, max(i) + 9 AS e
           FROM isl GROUP BY doc_id, span_id)"""

  /** Extends [[SpanBaseCteSql]] with the cut-all span pipeline: all
    * duplicated occurrences, island merge, and the maximal spans — shared
    * by q_dup_spans, q_dup_spans_stats, and q_cut_dup_spans so the three
    * can never desynchronize (mirrors `Dedup.dupSpanRows`).
    */
  private val SpanCteSql: String = SpanBaseCteSql +
    """,
         dup AS (
           SELECT w.doc_id, w.i FROM wins w JOIN dupk USING (h))""" +
    islandSql("dup")

  /** The cut rewrite shared by q_cut_dup_spans and q_cut_dup_spans_keep1:
    * drop every token inside a `spans` interval, re-join clean docs —
    * appended after a pipeline that defined `toks` and `spans` (mirrors
    * `Dedup.cutBySpanLists`).
    */
  private val CutRewriteSql: String =
    """,
         tokd AS (
           SELECT doc_id, unnest(t) AS tok,
             unnest(range(1, len(t)+1)) AS i
           FROM toks),
         kept AS (
           SELECT k.doc_id, string_agg(k.tok, ' ' ORDER BY k.i) AS clean_text,
             count(*) AS kept
           FROM tokd k
           WHERE NOT EXISTS (SELECT 1 FROM spans s
                             WHERE s.doc_id = k.doc_id AND k.i BETWEEN s.s AND s.e)
           GROUP BY k.doc_id)
         SELECT t.doc_id, coalesce(k.clean_text, '') AS clean_text,
           coalesce(k.kept, 0)::BIGINT AS kept_tokens
         FROM toks t LEFT JOIN kept k USING (doc_id)"""

  def oracleSql: Map[String, String] = Map(
    // Flagship digest gates: frozen constants of the seeded 2000-page
    // CorpusGen corpus (order-insensitive md5 over canonical row reprs —
    // see the *_gate queries). Regenerate via `runMain graft.tools
    // .GateDigest` ONLY for an intended kernel change, and hand-check why.
    "q_extract_pipeline_gate" ->
      "SELECT CAST(2000 AS BIGINT) AS n_rows, '574392a05aa24b40ca5f56314bfe4bad' AS digest",
    "q_extract_summary_gate" ->
      "SELECT CAST(5 AS BIGINT) AS n_rows, 'b23b4b84bd0c971ec3278011a627f44f' AS digest",
    "q_dedup_simhash" ->
      s"WITH $SimhashCte SELECT doc_id, simhash FROM sim",
    // the multi-table Manku construction is exact within the radius (and the
    // bucket cap does not bind at oracle scale), so the result equals the
    // brute-force pair set
    "q_dedup_simhash_pairs" ->
      s"""WITH $SimhashCte
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           bit_count(xor(a.simhash, b.simhash))::INT AS hamming
         FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
    "q_agg_filter" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_price,
         round(avg(l_discount), 4) AS avg_disc,
         count(*) AS n_rows
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '2000-01-01'
         GROUP BY l_returnflag, l_linestatus""",
    "q_join_broadcast" ->
      """SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",
    "q_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn::INT AS rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) WHERE rn <= 3""",
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "q_setop_except" ->
      """SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         EXCEPT
         SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996""",
    "q_distinct_count" ->
      """SELECT l_returnflag,
         count(DISTINCT l_orderkey) AS n_orders,
         count(DISTINCT l_partkey) AS n_parts,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag""",
    // exact cardinalities recomputed; the tolerance booleans assert the
    // HLL++ estimate accuracy (3x the configured 2% rsd), so an estimator
    // regression on the Spark side fails the hash compare
    // exact anchors recomputed by DuckDB's type-7 interpolated quantile
    // (the same linear-interpolation definition Spark's `percentile`
    // uses); the tolerance booleans are literal true — a sketch outside
    // tolerance hash-fails
    "q_length_quantiles_gate" ->
      """SELECT lang,
         round(quantile_cont(n_chars, 0.5), 4) AS p50_exact,
         round(quantile_cont(n_chars, 0.9), 4) AS p90_exact,
         true AS p50_within_tol,
         true AS p90_within_tol
         FROM documents GROUP BY lang""",
    "q_approx_distinct_gate" ->
      """SELECT l_returnflag,
         count(DISTINCT l_orderkey)::BIGINT AS exact_orders,
         count(DISTINCT l_partkey)::BIGINT AS exact_parts,
         true AS orders_within_tol,
         true AS parts_within_tol
         FROM lineitem GROUP BY l_returnflag""",
    "q_explode_tokens" ->
      """SELECT word, count(*) AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         GROUP BY word""",
    "q_json_extract" ->
      """SELECT event_type, count(*) AS n,
         sum((props::JSON ->> 'k')::BIGINT)::BIGINT AS sum_k,
         round(avg((props::JSON ->> 'k')::BIGINT), 4) AS avg_k
         FROM events GROUP BY event_type""",
    "q_sessionize" ->
      """WITH e AS (
           SELECT user_id, epoch_ms(ts) AS ms,
                  lag(epoch_ms(ts)) OVER (PARTITION BY user_id
                    ORDER BY ts ASC, event_id ASC) AS prev_ms
           FROM events),
         s AS (
           SELECT user_id,
                  CASE WHEN prev_ms IS NULL OR ms - prev_ms > 3600000
                       THEN 1 ELSE 0 END AS new_session
           FROM e)
         SELECT user_id, sum(new_session)::BIGINT AS n_sessions,
                count(*) AS n_events
         FROM s GROUP BY user_id""",
    "q_punct_normalize" ->
      """SELECT doc_id,
         regexp_replace(regexp_replace(text, '[ \t\n\x0B\f\r]+([.,;:!?])', '\1', 'g'),
                        '  +', ' ', 'g') AS clean_text
         FROM documents""",
    "q_quality_score" ->
      ("WITH " + QualityCteSql + """
         SELECT doc_id, n_tokens::BIGINT AS n_tokens,
           round(avg_word_len, 4) AS avg_word_len,
           round(stop_signal, 4) AS stop_signal,
           round(digit_signal, 4) AS digit_signal,
           quality_score,
           (quality_score < 0.5) AS flagged
         FROM qsco"""),
    "q_repetition" ->
      """WITH nl AS (
           SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents),
         nonempty AS (SELECT doc_id, line FROM nl WHERE line <> ''),
         per_line AS (
           SELECT doc_id, line, count(*) AS cnt, length(line) AS len
           FROM nonempty GROUP BY doc_id, line),
         line_stats AS (
           SELECT doc_id,
             sum(cnt)::BIGINT AS n_lines,
             sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::BIGINT AS dup_lines,
             sum(cnt * len)::BIGINT AS line_chars,
             sum(CASE WHEN cnt > 1 THEN cnt * len ELSE 0 END)::BIGINT AS dup_line_chars
           FROM per_line GROUP BY doc_id),
         toks AS (
           SELECT doc_id, regexp_extract_all(text, '[^ \n]+') AS t FROM documents),
         bg AS (
           SELECT doc_id, len(t) AS n_tokens,
             unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
           FROM toks WHERE len(t) >= 2),
         per_bg AS (
           SELECT doc_id, n_tokens, bg, count(*) AS cnt
           FROM bg GROUP BY doc_id, n_tokens, bg),
         bg_stats AS (
           SELECT doc_id, n_tokens, max(cnt) AS top_bigram_cnt
           FROM per_bg GROUP BY doc_id, n_tokens)
         SELECT d.doc_id, coalesce(l.n_lines, 0)::BIGINT AS n_lines,
           round(coalesce(l.dup_lines::DOUBLE / l.n_lines, 0.0), 4) AS dup_line_frac,
           round(coalesce(l.dup_line_chars::DOUBLE / l.line_chars, 0.0), 4)
             AS dup_line_char_frac,
           round(coalesce(b.top_bigram_cnt * 2.0 / b.n_tokens, 0.0), 4) AS top_bigram_frac
         FROM documents d
         LEFT JOIN line_stats l USING (doc_id)
         LEFT JOIN bg_stats b USING (doc_id)""",
    "q_gopher_filter" -> GopherOracleSql,
    "q_c4_filter" ->
      """WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
         l AS (
           SELECT doc_id, t,
             [regexp_replace(x, '[ \t\r]+$', '') for x in string_split(t, chr(10))] AS lines
           FROM base),
         k AS (
           SELECT doc_id, t, len(lines) AS n_lines,
             list_filter(lines, x ->
               len(list_filter(string_split(x, ' '), w -> w <> '')) >= 5
               AND regexp_matches(x, '[.!?"'']$')
               AND NOT contains(lower(x), 'javascript')) AS kept
           FROM l)
         SELECT doc_id, n_lines::INT AS n_lines, len(kept)::INT AS kept_lines,
           (len(kept) >= 3 AND NOT contains(t, '{')
              AND NOT contains(lower(t), 'lorem ipsum')) AS keep,
           CASE WHEN (len(kept) >= 3 AND NOT contains(t, '{')
                        AND NOT contains(lower(t), 'lorem ipsum'))
                THEN array_to_string(kept, chr(10)) ELSE '' END AS clean_text
         FROM k""",
    // identical RE2-compatible patterns, identical email -> phone -> ip
    // replacement order (masks must not create new matches)
    "q_pii_scrub" ->
      """WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
         e AS (SELECT doc_id,
             len(regexp_extract_all(t, '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}')) AS emails,
             regexp_replace(t, '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
           FROM base),
         p AS (SELECT doc_id, emails,
             len(regexp_extract_all(t1, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS phones,
             regexp_replace(t1, '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS t2
           FROM e),
         i AS (SELECT doc_id, emails, phones,
             len(regexp_extract_all(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS ips,
             regexp_replace(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t3
           FROM p)
         SELECT doc_id, emails::INT AS emails, phones::INT AS phones,
           ips::INT AS ips, md5(t3) AS scrubbed_md5 FROM i""",
    "q_langid" -> {
      def cnt(m: String) =
        s"(length(' ' || text || ' ') - length(replace(' ' || text || ' ', '$m', ''))) / ${m.length}"
      val scores = TextAnalysis.LangMarkers.map { case (l, ms) =>
        ms.map(m => cnt(m.trim match { case t => s" $t " })).mkString(" + ") + s" AS score_$l"
      }.mkString(",\n             ")
      val maxExpr = "greatest(" + TextAnalysis.LangMarkers.map(m => s"score_${m._1}").mkString(", ") + ")"
      val caseExpr = TextAnalysis.LangMarkers
        .map { case (l, _) => s"WHEN score_$l = $maxExpr AND $maxExpr > 0 THEN '$l'" }
        .mkString("CASE ", " ", " ELSE 'und' END")
      s"""WITH scored AS (
           SELECT doc_id, lang,
             $scores
           FROM documents)
         SELECT doc_id, lang, $caseExpr AS predicted_lang,
           ${TextAnalysis.LangMarkers.map(m => s"score_${m._1}::BIGINT AS score_${m._1}").mkString(", ")}
         FROM scored"""
    },
    "q_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
         sum(len(string_split(text, ' ')))::BIGINT AS total_tokens,
         sum(length(text))::BIGINT AS total_chars,
         round(avg(len(string_split(text, ' '))), 4) AS avg_tokens
         FROM documents GROUP BY lang""",
    "q_token_counts" ->
      """SELECT doc_id,
         len(string_split(text, ' '))::BIGINT AS ws_tokens,
         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))::BIGINT AS bpeish_tokens,
         length(text)::BIGINT AS n_chars
         FROM documents""",
    "q_fingerprint" ->
      """SELECT doc_id, md5(lower(trim(text))) AS fingerprint,
         length(text)::BIGINT AS n_chars FROM documents""",
    // md5 recomputed directly from the table: the Spark side's value went
    // through WARC serialization + the production reader, so any framing
    // or charset defect on either side mismatches here
    "q_warc_roundtrip" ->
      """SELECT doc_id, md5(coalesce(text, '')) AS text_md5 FROM documents""",
    // same rule chain as TextAnalysis.canonicalizeUrl; every pattern is
    // RE2-compatible and DuckDB replacement groups are backslash-numbered
    "q_url_canonicalize" ->
      """WITH raw AS (
           SELECT doc_id,
             'HTTPS://WWW.Example' || (doc_id % 7) || '.COM' ||
             CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END ||
             '/Path/' || doc_id ||
             CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
             CASE WHEN doc_id % 4 = 0 THEN '?utm_source=a&utm_medium=b&id=' || doc_id
                  WHEN doc_id % 4 = 1 THEN '?id=' || doc_id || '&fbclid=XYZ'
                  WHEN doc_id % 4 = 2 THEN '?utm_only=1'
                  ELSE '' END ||
             CASE WHEN doc_id % 5 = 0 THEN '#Frag' ELSE '' END AS raw_url
           FROM documents),
         c1 AS (SELECT doc_id, raw_url,
           lower(regexp_extract(raw_url, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*', 0)) ||
           substr(raw_url,
             length(regexp_extract(raw_url, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*', 0)) + 1)
           AS u FROM raw),
         c2 AS (SELECT doc_id, raw_url, regexp_replace(u, '(?s)#.*', '', 'g') AS u FROM c1),
         c3 AS (SELECT doc_id, raw_url,
           regexp_replace(u, '^(http://[^/:?#]+):80([/?#].*)?$', '\1\2') AS u FROM c2),
         c4 AS (SELECT doc_id, raw_url,
           regexp_replace(u, '^(https://[^/:?#]+):443([/?#].*)?$', '\1\2') AS u FROM c3),
         c5 AS (SELECT doc_id, raw_url,
           regexp_replace(u, '[?&](utm_[^=&#]*|fbclid|gclid)=[^&#]*', '', 'g') AS u FROM c4),
         c6 AS (SELECT doc_id, raw_url,
           regexp_replace(u, '^([^?#]+)&', '\1?') AS u FROM c5),
         c7 AS (SELECT doc_id, raw_url, regexp_replace(u, '[?&]+$', '') AS u FROM c6)
         SELECT doc_id, raw_url,
           regexp_replace(u, '([^/:])/$', '\1') AS canonical_url FROM c7""",
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, count(*) AS dup_count,
         min(doc_id) AS keep_id FROM documents GROUP BY md5(text)""",
    "q_topk_tokens" ->
      """SELECT row_number() OVER (ORDER BY count(*) DESC, word ASC)::INT AS rank,
         word AS token, count(*) AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         WHERE word <> ''
         GROUP BY word
         ORDER BY count(*) DESC, word ASC
         LIMIT 20""",
    "q_topk_tokens_agg" ->
      """SELECT row_number() OVER (ORDER BY count(*) DESC, word ASC)::INT AS rank,
         word AS token, count(*) AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         WHERE word <> ''
         GROUP BY word
         ORDER BY count(*) DESC, word ASC
         LIMIT 20""",
    "q_dedup_mark" ->
      """SELECT doc_id,
         min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
         doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
         FROM documents""",
    "q_dedup_mark_ids" ->
      """SELECT doc_id,
         min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
         doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
         FROM documents""",
    "q_dedup_ngram" ->
      """WITH tok AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct(CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
               ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                     for i in range(1, len(w) - 2)] END) AS s
           FROM tok),
         pairs AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             len(list_intersect(a.s, b.s)) AS common,
             len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS un
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.s, b.s)) > 0)
         SELECT a_id, b_id, round(common::DOUBLE / un, 4) AS jaccard
         FROM pairs WHERE round(common::DOUBLE / un, 4) >= 0.8""",
    // connected components over the same exact pair set, via a recursive
    // min-label-reachability CTE; singletons keep their own id.
    // NOTE: like q_dedup_ngram, this oracle computes UNCAPPED exact pairs
    // while the Spark side applies ngramJaccardPairs' maxShingleDf (which
    // never binds on this corpus, max df 6 vs cap 128); if the corpus ever
    // grows a >128-df boilerplate shingle, a pair diff here is the
    // documented cap, amplified through the component merge — not a code
    // regression. The diff can go either way: a pair that shares the
    // dropped boilerplate scores BELOW its true Jaccard and goes missing
    // (shared shingles leave the numerator and the denominator), while a
    // pair whose dropped shingles are not shared scores above it
    "q_contamination" ->
      """WITH tok AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct(CASE WHEN len(w) < 8 THEN [array_to_string(w, ' ')]
               ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
                     w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]
                     for i in range(1, len(w) - 6)] END) AS s
           FROM tok),
         corpus_sh AS (
           SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 2 = 0),
         tpost AS (SELECT doc_id, unnest(s) AS g FROM sh),
         totals AS (SELECT doc_id, count(*) AS n_shingles FROM tpost GROUP BY doc_id),
         hits AS (
           SELECT doc_id, count(*) AS contaminated_shingles
           FROM tpost WHERE g IN (SELECT g FROM corpus_sh) GROUP BY doc_id)
         SELECT t.doc_id, t.n_shingles::BIGINT AS n_shingles,
           coalesce(h.contaminated_shingles, 0)::BIGINT AS contaminated_shingles,
           round(coalesce(h.contaminated_shingles, 0)::DOUBLE / t.n_shingles, 4)
             AS contamination_frac,
           (round(coalesce(h.contaminated_shingles, 0)::DOUBLE / t.n_shingles, 4) >= 0.8)
             AS is_contaminated
         FROM totals t LEFT JOIN hits h USING (doc_id)""",
    "q_dedup_clusters" -> ClustersOracleSql,
    // the star-contraction implementation must produce the identical
    // component labelling — same implementation-independent oracle
    "q_dedup_clusters_star" -> ClustersOracleSql,
    // quality-aware canonical selection over the same cluster labelling:
    // max quality per cluster, min doc_id among the max-quality members —
    // the exact two-step hash-aggregable election of the Spark side
    "q_dedup_keep_best" ->
      (ClustersCteSql + """,
         j AS (
           SELECT c.doc_id, c.cluster_id, d.n_chars AS quality
           FROM clus c JOIN documents d USING (doc_id)),
         bq AS (
           SELECT cluster_id, max(quality) AS best_q
           FROM j GROUP BY cluster_id),
         bi AS (
           SELECT j.cluster_id, min(j.doc_id) AS best_id
           FROM j JOIN bq ON j.cluster_id = bq.cluster_id
                        AND j.quality = bq.best_q
           GROUP BY j.cluster_id)
         SELECT j.doc_id, j.cluster_id, j.quality,
           (j.doc_id = bi.best_id) AS keep
         FROM j JOIN bi USING (cluster_id)"""),
    // NOTE: this oracle is the EXACT all-pairs >= 0.8 set; minhashPairs is
    // LSH-recall-bounded (16 bands x 4 rows: a pair at exactly 0.8 misses
    // every band with prob ~2e-4). Equality holding on the fixed test corpus
    // is a measured 100%-recall result, not a structural guarantee — if the
    // corpus changes and this row ever mismatches by a missing pair, that is
    // the documented LSH miss, not a code regression.
    "q_dedup_minhash" ->
      """WITH tok AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct(CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
               ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                     for i in range(1, len(w) - 2)] END) AS s
           FROM tok),
         pairs AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             len(list_intersect(a.s, b.s)) AS common,
             len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS un
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.s, b.s)) > 0)
         SELECT a_id, b_id, round(common::DOUBLE / un, 4) AS jaccard
         FROM pairs WHERE round(common::DOUBLE / un, 4) >= 0.8""",
    "q_dedup_embedding" ->
      """SELECT a.label AS label, a.vec_id AS a_id, b.vec_id AS b_id,
         round(list_cosine_similarity(
           list_transform(a.embedding, x -> x::DOUBLE),
           list_transform(b.embedding, x -> x::DOUBLE)), 6) AS cosine
         FROM embeddings a JOIN embeddings b
           ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE list_cosine_similarity(
           list_transform(a.embedding, x -> x::DOUBLE),
           list_transform(b.embedding, x -> x::DOUBLE)) >= 0.4""",
    "q_passage_dedup" ->
      """WITH wins AS (
           SELECT doc_id,
             md5(unnest(list_transform(range(1, greatest(len(t)-9, 0)+1),
               i -> array_to_string(t[i:i+9], ' ')))) AS h
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
         dfh AS (
           SELECT h, count(*) AS docs_with
           FROM (SELECT DISTINCT h, doc_id FROM wins) GROUP BY h)
         SELECT w.doc_id,
           count(*) AS windows,
           sum(CASE WHEN d.docs_with >= 2 THEN 1 ELSE 0 END)::BIGINT AS dup_windows,
           round(sum(CASE WHEN d.docs_with >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
             AS dup_fraction
         FROM wins w JOIN dfh d ON w.h = d.h
         GROUP BY w.doc_id""",
    "q_dup_spans" ->
      (SpanCteSql + """
         SELECT doc_id, s::BIGINT AS span_start, e::BIGINT AS span_end
         FROM spans"""),
    "q_dup_spans_stats" ->
      (SpanCteSql + """,
         agg AS (
           SELECT doc_id, sum(e - s + 1)::BIGINT AS dup_tokens
           FROM spans GROUP BY doc_id)
         SELECT t.doc_id, coalesce(a.dup_tokens, 0)::BIGINT AS dup_tokens,
           len(t.t)::BIGINT AS total_tokens
         FROM toks t LEFT JOIN agg a USING (doc_id)"""),
    "q_cut_dup_spans" ->
      (SpanCteSql + CutRewriteSql),
    // keep-first cut: the canonical (globally first) occurrence of each
    // duplicated hash is elected via min(doc_id) then min(i) within that
    // doc — the exact two-step hash-aggregable election of the Spark
    // implementation — and exempted from the cut-window set
    "q_cut_dup_spans_keep1" ->
      (SpanBaseCteSql + """,
         c1 AS (
           SELECT h, min(doc_id) AS cdoc
           FROM wins JOIN dupk USING (h) GROUP BY h),
         c2 AS (
           SELECT w.h, min(w.i) AS ci FROM wins w
           JOIN c1 ON w.h = c1.h AND w.doc_id = c1.cdoc
           GROUP BY w.h),
         cutw AS (
           SELECT w.doc_id, w.i FROM wins w
           JOIN c1 ON w.h = c1.h
           JOIN c2 ON w.h = c2.h
           WHERE NOT (w.doc_id = c1.cdoc AND w.i = c2.ci))""" +
        islandSql("cutw") + CutRewriteSql),
    "q_pack_sequences" ->
      """WITH toks AS (
           SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
           FROM documents WHERE text IS NOT NULL),
         c AS (
           SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
           FROM toks)
         SELECT doc_id, n_tokens, (cum - n_tokens)::BIGINT AS seq_start,
           ((cum - n_tokens) // 2048)::BIGINT AS pack_first,
           ((cum - 1) // 2048)::BIGINT AS pack_last
         FROM c""",
    // quality-ranked budget fill: inclusive running token total in
    // (quality_score DESC, doc_id) order; the doc that would cross the
    // budget is excluded. ROWS frame is explicit: the ORDER key is unique
    // (doc_id tie-break) so RANGE would coincide, but only by accident.
    "q_select_budget" ->
      ("WITH " + QualityCteSql + """,
         t AS (
           SELECT q.doc_id, q.quality_score, q.n_tokens::BIGINT AS n_tokens
           FROM qsco q JOIN documents d USING (doc_id)
           WHERE d.text IS NOT NULL),
         c AS (
           SELECT doc_id, quality_score, n_tokens,
             sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
           FROM t)
         SELECT doc_id, quality_score, n_tokens, cum_tokens::BIGINT AS cum_tokens,
           (cum_tokens <= 5000) AS selected
         FROM c"""),
    "q_source_reputation" ->
      ("WITH " + SourceRepCteSql + """
         SELECT source, n_docs, n_flagged, flagged_frac, keep_source
         FROM verdict"""),
    // corpus-frequency rarity: integer sums with one terminal division —
    // the log-prob formulation would hash-diverge on libm last-ulp
    // differences, these cannot
    // rarity is by DOCUMENT frequency (df), not term count — a doc
    // repeating its own junk cannot whitewash it (mirrors tokenRarity)
    "q_token_rarity" ->
      """WITH tk AS (
           SELECT doc_id, unnest(regexp_extract_all(text, '[^ \n]+')) AS tok
           FROM documents),
         dt AS (
           SELECT doc_id, tok, count(*) AS k FROM tk GROUP BY doc_id, tok),
         vocab AS (
           SELECT tok, sum(k)::BIGINT AS c, count(*)::BIGINT AS df
           FROM dt GROUP BY tok),
         per AS (
           SELECT t.doc_id, sum(t.k)::BIGINT AS n_tokens,
             sum(CASE WHEN v.df <= 1 THEN t.k ELSE 0 END)::BIGINT AS rare_tokens,
             sum(t.k * v.c)::BIGINT AS count_sum
           FROM dt t JOIN vocab v USING (tok) GROUP BY t.doc_id)
         SELECT d.doc_id, coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
           coalesce(p.rare_tokens, 0)::BIGINT AS rare_tokens,
           round(coalesce(p.rare_tokens::DOUBLE / p.n_tokens, 0.0), 4) AS rare_frac,
           round(coalesce(p.count_sum::DOUBLE / p.n_tokens, 0.0), 4) AS avg_count
         FROM documents d LEFT JOIN per p USING (doc_id)""",
    // shares are cast to DOUBLE (bare 0.2 would be DECIMAL and compute
    // share*total exactly where Spark rounds in double — a half-boundary
    // keep_prob would then diverge); identical double-op order as the
    // Spark side (share * total / cur); the doc gate compares the FULL
    // 4-hex md5 value (uniform over 0..65535) against raw*65536 — a
    // mod-10000 bucket would over-keep residues 0..5535 by 1/6
    "q_rebalance_lang" ->
      ("""WITH m AS (
           SELECT lang, sum(len(string_split(text, ' ')))::BIGINT AS cur
           FROM documents GROUP BY lang),
         t AS (SELECT sum(cur)::BIGINT AS total FROM m),
         s(lang, share) AS (
           SELECT * FROM (VALUES ('de', 0.2::DOUBLE), ('en', 0.2::DOUBLE),
                                 ('es', 0.2::DOUBLE), ('fr', 0.2::DOUBLE),
                                 ('zh', 0.2::DOUBLE))),
         r AS (
           SELECT m.lang,
             CASE WHEN s.share IS NULL THEN 1.0
                  ELSE least(1.0, s.share * t.total / m.cur) END AS raw
           FROM m CROSS JOIN t
           LEFT JOIN s ON m.lang IS NOT DISTINCT FROM s.lang),
         b AS (
           SELECT doc_id, lang,
             """ + md5BucketSql(65536) + """ AS bucket
           FROM documents)
         SELECT b.doc_id, b.lang, round(r.raw, 4) AS keep_prob,
           (b.bucket < round(r.raw * 65536)) AS keep
         FROM b JOIN r ON b.lang IS NOT DISTINCT FROM r.lang"""),
    // DuckDB list slices are 1-based inclusive like Spark's slice();
    // range(1, n+1, stride) mirrors sequence(1, n, stride); the WHERE
    // drops a tail start whose predecessor window (i - 40 .. i + 9)
    // already reached the last token (subset chunk)
    "q_chunk_tokens" ->
      """WITH tk AS (
           SELECT doc_id, regexp_extract_all(text, '[^ \n]+') AS t
           FROM documents),
         st AS (
           SELECT doc_id, t, unnest(range(1, len(t) + 1, 40)) AS i
           FROM tk WHERE len(t) >= 1)
         SELECT doc_id, ((i - 1) // 40)::BIGINT AS chunk_id,
           len(t[i:i+49])::BIGINT AS n_chunk_tokens,
           array_to_string(t[i:i+49], ' ') AS chunk_text
         FROM st
         WHERE i = 1 OR i - 40 + 49 < len(t)""",
    // binned-idf score tf * floor(log2(N/df)) — an exact INTEGER in both
    // engines (bin edges floor correctly under both libm log2 and
    // Spark's ln-quotient log2, and non-edge integer ratios sit
    // ~1/(N*ln2) from an edge, above the log error at any realistic N);
    // zero for corpus-universal terms like log-idf; sort carries tf as
    // the secondary key so equal-bin ties go to the repeated term
    "q_tfidf_keywords" ->
      """WITH tk AS (
           SELECT doc_id, unnest(regexp_extract_all(text, '[^ \n]+')) AS tok
           FROM documents),
         dt AS (
           SELECT doc_id, tok, count(*) AS k FROM tk GROUP BY doc_id, tok),
         dfq AS (SELECT tok, count(*)::BIGINT AS df FROM dt GROUP BY tok),
         n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
         sc AS (
           SELECT d.doc_id, d.tok AS term, d.k::BIGINT AS tf, f.df,
             (d.k * floor(log2(n.n_docs::DOUBLE / f.df)))::BIGINT AS score
           FROM dt d JOIN dfq f USING (tok) CROSS JOIN n),
         rk AS (
           SELECT *, row_number() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, tf DESC, term) AS rank
           FROM sc)
         SELECT doc_id, rank::BIGINT AS rank, term, tf, df, score
         FROM rk WHERE rank <= 3""",
    // the distributed rank must equal a plain ORDER BY row_number
    "q_shuffle_order" ->
      """SELECT doc_id,
         md5('42:' || doc_id::VARCHAR) AS shuffle_key,
         (row_number() OVER (ORDER BY md5('42:' || doc_id::VARCHAR), doc_id)
           - 1)::BIGINT AS shuffle_rank
         FROM documents""",
    // ties at the top-k boundary break by token text in BOTH engines
    "q_vocab_stats" ->
      """WITH tk AS (
           SELECT unnest(regexp_extract_all(text, '[^ \n]+')) AS tok
           FROM documents),
         vocab AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
         tot AS (
           SELECT count(*)::BIGINT AS vocab_size,
             coalesce(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0)::BIGINT
               AS hapax_tokens,
             coalesce(sum(c), 0)::BIGINT AS total_tokens
           FROM vocab),
         topm AS (
           SELECT coalesce(sum(c), 0)::BIGINT AS topk_mass
           FROM (SELECT c FROM vocab ORDER BY c DESC, tok LIMIT 100))
         SELECT vocab_size, hapax_tokens, total_tokens,
           round(CASE WHEN total_tokens = 0 THEN 0.0
                 ELSE topk_mass::DOUBLE / total_tokens END, 4)
             AS top100_coverage
         FROM tot, topm""",
    "q_source_filter" ->
      ("WITH " + SourceRepCteSql + """
         SELECT d.doc_id, d.source, v.keep_source AS keep
         FROM documents d JOIN verdict v USING (source)"""),
    "q_hash_split" ->
      s"""WITH b AS (
           SELECT doc_id,
             ${md5BucketSql(100)} AS bucket
           FROM documents)
         SELECT doc_id, bucket::INT AS bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
         FROM b""",
    // composed pipeline: the gopher oracle is embedded verbatim as a
    // subquery, the dedup survivor set is the window formulation, and the
    // split is the same md5 bucket arithmetic — fully independent of the
    // Spark operator implementations
    "q_pipeline_compose" ->
      ("""WITH gf AS (SELECT doc_id, keep FROM (""" + GopherOracleSql + """)),
         survivors AS (
           SELECT doc_id FROM (
             SELECT doc_id, doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
             FROM documents) WHERE NOT is_dup),
         b AS (
           SELECT doc_id,
             """ + md5BucketSql(100) + """ AS bucket
           FROM documents)
         SELECT CASE WHEN b.bucket < 80 THEN 'train' WHEN b.bucket < 90 THEN 'val'
                  ELSE 'test' END AS split,
           count(*) AS n_docs,
           sum(len(string_split(d.text, ' ')))::BIGINT AS total_ws_tokens
         FROM documents d
         JOIN (SELECT doc_id FROM gf WHERE keep) k USING (doc_id)
         JOIN survivors USING (doc_id)
         JOIN b USING (doc_id)
         GROUP BY 1"""),
    // exhaustive-pair oracle over the same planted table: identical vectors
    // collide in every LSH table (no plane separates a zero angle), so the
    // bucketed result provably equals the exact all-pairs answer at 0.95
    "q_dedup_embedding_lsh" ->
      """WITH aug AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL
           SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 5)
         SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         round(list_cosine_similarity(
           list_transform(a.embedding, x -> x::DOUBLE),
           list_transform(b.embedding, x -> x::DOUBLE)), 6) AS cosine
         FROM aug a JOIN aug b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(
           list_transform(a.embedding, x -> x::DOUBLE),
           list_transform(b.embedding, x -> x::DOUBLE)) >= 0.95""",
    "q_ann_brute" ->
      """WITH q AS (SELECT vec_id AS q_id,
             list_transform(embedding, x -> x::DOUBLE) AS q_v
           FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.q_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(q.q_v,
               list_transform(e.embedding, x -> x::DOUBLE)) AS cos
           FROM q JOIN embeddings e ON e.vec_id <> q.q_id),
         ranked AS (
           SELECT q_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos DESC, neighbor_id ASC) AS rank
           FROM scored)
         SELECT q_id, rank::INT AS rank, neighbor_id, round(cos, 6) AS cosine
         FROM ranked WHERE rank <= 5""",
    // the truth-pair count is recomputed from the embeddings table by the
    // same brute-force ranking as q_ann_brute; recall_ok asserts the >=0.9
    // floor for both approximate indexes (any recall regression flips the
    // boolean on the Spark side and fails the hash compare)
    "q_ann_recall" ->
      """WITH q AS (SELECT vec_id AS q_id,
             list_transform(embedding, x -> x::DOUBLE) AS q_v
           FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.q_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(q.q_v,
               list_transform(e.embedding, x -> x::DOUBLE)) AS cos
           FROM q JOIN embeddings e ON e.vec_id <> q.q_id),
         ranked AS (
           SELECT q_id, neighbor_id,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos DESC, neighbor_id ASC) AS rank
           FROM scored),
         bf AS (SELECT q_id, neighbor_id FROM ranked WHERE rank <= 5)
         SELECT method, truth_pairs, recall_ok FROM (
           SELECT 'ivf' AS method, count(*)::BIGINT AS truth_pairs,
                  true AS recall_ok FROM bf
           UNION ALL
           SELECT 'lsh' AS method, count(*)::BIGINT AS truth_pairs,
                  true AS recall_ok FROM bf)
         ORDER BY method""",
    // the planted-dimension closed form (CorpusGen.mediaWidth/mediaHeight/
    // mediaFormatIdx): the Spark side must recover these values by PARSING
    // the real container headers the encoders wrote
    "q_multimodal_meta" ->
      """SELECT doc_id AS content_id,
         (CASE WHEN doc_id % 6 <= 3 THEN 8 + (doc_id * 13) % 120 ELSE 0 END)::BIGINT AS width,
         (CASE WHEN doc_id % 6 <= 3 THEN 8 + (doc_id * 7) % 110 ELSE 0 END)::BIGINT AS height,
         CASE doc_id % 6 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
              WHEN 3 THEN 'bmp' WHEN 4 THEN 'unknown' ELSE 'empty' END AS format
         FROM documents""",
    // frame sampling: byte-slice checksums recomputed from the UTF-8 bytes
    // via hex() + per-pair char lookup (one hex pair = one byte)
    "q_frame_sample" ->
      """WITH base AS (
           SELECT doc_id AS content_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents),
         frames AS (
           SELECT content_id, hx, n, unnest(range(0, n, 64)) AS boff FROM base)
         SELECT content_id,
           (boff // 64)::INT AS frame_idx,
           boff::INT AS byte_offset,
           list_sum(list_transform(range(1, 2*least(16, n - boff)+1, 2),
             i -> 16*(instr('0123456789ABCDEF', hx[(boff*2 + i)::INT]) - 1)
                  + (instr('0123456789ABCDEF', hx[(boff*2 + i + 1)::INT]) - 1)))::BIGINT
             AS frame_checksum
         FROM frames"""
  )
}
