package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Plan-shape guards for the skew-immune dedup formulations (VERDICT r2 #1):
  * per-key statistics (exact-dup canonical id, shingle df, passage df) must
  * be partial-aggregated groupBy + join-back, never an unordered window — a
  * window partition runs on ONE task, so a mass-duplicate content hash or a
  * corpus-common shingle (df 10^7+ at web scale) would pin its entire
  * posting list on a single spilling task.
  * Partial aggregation shrinks the hot key to one row per map task.
  */
class DedupSkewSpec extends AnyFunSuite {
  private implicit lazy val spark: org.apache.spark.sql.SparkSession = SparkTestBase.spark
  import spark.implicits._

  // planted mega-key corpus: one boilerplate text duplicated across most of
  // the corpus (the mass-duplication regime), a handful of unique docs
  private lazy val skewed = (0 until 800).map { i =>
    val text =
      if (i < 700) "mass duplicated boilerplate page body shared across the whole crawl"
      else s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i iota$i" // every token doc-unique
    (i.toLong, text)
  }.toDF("doc_id", "text")

  private def noWindow(df: DataFrame): Unit = {
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.isEmpty, s"expected no Window node, found: $windows")
    assert(
      df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.nonEmpty,
      "expected groupBy aggregation on the per-key statistic path")
  }

  test("markDuplicates: mega-key runs through partial aggregation, not a window") {
    val marked = Dedup.markDuplicates(skewed)
    noWindow(marked)
    val r = marked.collect()
    // map-side combine is the skew defence: the physical plan must show a
    // partial min under the hash exchange
    assert(marked.queryExecution.executedPlan.toString.contains("partial_min"))
    assert(r.length == 800)
    val dups = r.filter(_.getAs[Boolean]("is_duplicate"))
    assert(dups.length == 699) // 700 copies, one survivor
    assert(dups.forall(_.getAs[Long]("canonical_id") == 0L))
    assert(r.filter(!_.getAs[Boolean]("is_duplicate")).length == 101)
  }

  test("markDuplicatesIds: text is pruned before the exchange and values match the annotating form") {
    val skinny = Dedup.markDuplicatesIds(skewed)
    noWindow(skinny)
    // the annotating form must carry text through the join-back shuffle (its
    // contract), the skinny form must NOT: text absent from every scan leaf
    // means it cannot appear in any exchange either
    val leaves = skinny.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.nonEmpty)
    leaves.foreach { leaf =>
      assert(!leaf.output.exists(_.name == "text"),
        s"text must be pruned from the skinny path's scan, got: ${leaf.output}")
    }
    assert(skinny.queryExecution.executedPlan.toString.contains("partial_min"))
    assert(skinny.columns.toSeq == Seq("doc_id", "canonical_id", "is_duplicate"))
    val s = skinny.collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("canonical_id"), x.getAs[Boolean]("is_duplicate"))).toMap
    val full = Dedup.markDuplicates(skewed).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("canonical_id"), x.getAs[Boolean]("is_duplicate"))).toMap
    assert(s == full)
  }

  test("markDuplicatesIds keeps and groups null-text rows like the annotating form") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true)))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(0L, "alpha"),
      org.apache.spark.sql.Row(1L, null),
      org.apache.spark.sql.Row(2L, null),
      org.apache.spark.sql.Row(3L, "alpha"))
    val docs = spark.createDataFrame(rows, schema)
    val r = Dedup.markDuplicatesIds(docs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("canonical_id"), x.getAs[Boolean]("is_duplicate"))).toMap
    assert(r.size == 4, s"null-text rows must survive: $r")
    assert(r(1L) == ((1L, false)) && r(2L) == ((1L, true)))
    assert(r(3L) == ((0L, true)))
  }

  test("markDuplicates keeps and groups null-text rows (join must not drop null keys)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true)))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(0L, "alpha"),
      org.apache.spark.sql.Row(1L, null),
      org.apache.spark.sql.Row(2L, null),
      org.apache.spark.sql.Row(3L, "alpha"))
    val docs = spark.createDataFrame(rows, schema)
    val r = Dedup.markDuplicates(docs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("canonical_id"), x.getAs[Boolean]("is_duplicate"))).toMap
    assert(r.size == 4, s"null-text rows must survive: $r")
    // nulls form ONE group (window/oracle semantics): min id 1 is canonical
    assert(r(1L) == ((1L, false)) && r(2L) == ((1L, true)))
    assert(r(3L) == ((0L, true)))
  }

  test("ngramJaccardPairs: shingle df is a partial-aggregated groupBy, not a window") {
    val pairs = Dedup.ngramJaccardPairs(skewed, n = 4, threshold = 0.8)
    noWindow(pairs)
    assert(pairs.queryExecution.executedPlan.toString.contains("partial_count"))
    // exact output: the 700-doc mega-cluster is every one of its
    // C(700, 2) pairs at 1.0 (the df-ordered prefix keeps the join on its
    // few rarest shingles), and the doc-unique docs share nothing
    val r = pairs.collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    assert(r.length == 700 * 699 / 2, s"got ${r.length} pairs")
    assert(r.forall { case (a, b, j) => a < b && b < 700 && j == 1.0 })
    assert(r.map(x => (x._1, x._2)).toSet.size == r.length, "pairs must be distinct")
  }

  test("ngramJaccardPairs: a shuffled prefix self-join runs the per-doc prefix aggregate once") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectList, Partial}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    // Once the prefix postings outgrow the broadcast threshold, both sides
    // of the self-join shuffle by `sh`, and the second side must be a reused
    // exchange of the first, not a second final collect_list aggregate.
    // (Under a broadcast join, at test and benchmark scale, the stream side
    // and the broadcast each run the aggregate: removing that needs an extra
    // shuffle stage, which measured slower than the repeated aggregate.)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val pairs = Dedup.ngramJaccardPairs(skewed, n = 4, threshold = 0.8)
      assert(pairs.collect().length == 700 * 699 / 2)
      val finalCollects = new AdaptiveSparkPlanHelper {}.collect(pairs.queryExecution.executedPlan) {
        case a: ObjectHashAggregateExec if a.aggregateExpressions.exists {
          case AggregateExpression(_: CollectList, mode, _, _, _) => mode != Partial
          case _ => false
        } => a
      }
      assert(finalCollects.length == 1, pairs.queryExecution.executedPlan.toString)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("passageDupStats: cross-doc df is a partial-aggregated groupBy with exchange reuse") {
    val stats = Dedup.passageDupStats(skewed, n = 4)
    noWindow(stats)
    val r = stats.collect()
    val byDoc = r.map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("dup_fraction")).toMap
    assert(byDoc(0L) == 1.0) // every window of a mass-dup doc is cross-doc duplicated
    assert(byDoc(700L) == 0.0) // unique docs share no window
    val plan = stats.queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"))
    // the explode+md5 map side must be evaluated ONCE: the df branch and the
    // join probe branch read the same (h, doc_id) exchange
    assert(plan.contains("ReusedExchange"), s"expected ReusedExchange in:\n$plan")
  }

  test("span dedup binary window key matches the hex-string formulation row for row") {
    // r7 narrowed the internal window-hash key from the 32-char md5 hex
    // string to unhex(md5) bytes; the two are bijective, so the span
    // output must be IDENTICAL — pinned here against an inline hex-key
    // reference over a corpus with real cross-doc duplication structure
    import org.apache.spark.sql.expressions.Window
    val docs = (0 until 200).map { i =>
      val shared = "one two three four five six seven eight nine ten eleven twelve"
      val text =
        if (i % 3 == 0) s"prefix$i a b $shared tail$i x y z"
        else s"unique$i alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i iota$i kappa$i"
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val n = 10
    val toks = split(col("text"), " ")
    val wins = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), toks.as("t"),
        greatest(size(toks) - lit(n - 1), lit(0)).as("nw"))
      .filter(col("nw") > 0)
      .select(col("doc_id"), explode(sequence(lit(1), col("nw"))).as("i"), col("t"))
      .select(col("doc_id"), col("i").cast("long").as("i"),
        md5(array_join(slice(col("t"), col("i"), lit(n)), " ")).as("h")) // hex key
    val dupk = wins.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("dw"))
      .filter(col("dw") >= 2).select(col("h"))
    val ordered = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val running = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hexSpans = wins.join(dupk, Seq("h"))
      .select(col("doc_id"), col("i"))
      .withColumn("new_span",
        when(col("i") - lag(col("i"), 1).over(ordered) > n, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("new_span")).over(running))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("i")).as("span_start"), (max(col("i")) + lit(n - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
    val expected = hexSpans.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val actual = Dedup.dupSpanList(docs, n = n).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("span_start"), r.getAs[Long]("span_end"))).toSet
    assert(expected.nonEmpty, "test corpus must produce duplicated spans")
    assert(actual == expected,
      s"binary-key spans diverge: only-hex=${(expected -- actual).take(3)} " +
        s"only-binary=${(actual -- expected).take(3)}")
  }

  test("embeddingDupPairsLsh: planted mega-bucket is capped, diffuse output unchanged") {
    // 1000 IDENTICAL vectors — they collide in EVERY table by construction,
    // the exact regime the maxBucket cap exists for (r7 / r6-verdict #1:
    // without the cap this is a quadratic bucket in all 6 tables at once)
    val mega = (0L until 1000L).map { i =>
      (i, Array.tabulate(8)(d => (0.1 * (d + 1)).toFloat))
    }.toDF("vec_id", "embedding")
    val capped = Dedup.embeddingDupPairsLsh(mega, threshold = 0.95, maxBucket = 50)
    val pairs = capped.collect().map(r =>
      (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    // identical vectors share every bucket of every table, so the capped
    // survivor set is the 50 lowest ids in each table — pair output is
    // bounded at C(50, 2), never the 499,500 uncapped pairs
    assert(pairs.length == 50 * 49 / 2, s"got ${pairs.length} pairs")
    assert(pairs.forall { case (a, b) => a < 50 && b < 50 })

    // on diffuse data (distinct vectors, buckets far under the cap) the cap
    // must be invisible: same pair set as an effectively-uncapped run —
    // the q_dedup_embedding_lsh oracle regime
    val diffuse = (0L until 120L).map { i =>
      val v = Array.tabulate(8) { d =>
        (Dedup.mix64(i * 131 + d).toDouble / Long.MaxValue).toFloat
      }
      (i, v)
    }.toDF("vec_id", "embedding") // plus 5 planted exact dups of ids 0..4
    val planted = (0L until 5L).map { i =>
      (i + 100000L,
        Array.tabulate(8)(d => (Dedup.mix64(i * 131 + d).toDouble / Long.MaxValue).toFloat))
    }.toDF("vec_id", "embedding")
    val all = diffuse.unionByName(planted)
    def pairSet(mb: Int) =
      Dedup.embeddingDupPairsLsh(all, threshold = 0.95, maxBucket = mb)
        .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val atDefault = pairSet(200)
    assert(atDefault == pairSet(1000000), "cap must not bind on diffuse buckets")
    // and the planted exact dups are still found (identical vectors collide
    // in every table regardless of the cap)
    (0L until 5L).foreach { i =>
      assert(atDefault.contains((i, i + 100000L)), s"planted dup $i missing")
    }
  }
}
