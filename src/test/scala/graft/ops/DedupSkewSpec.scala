package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.SparkTestBase.withBroadcastThreshold

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
    // The plan shape is the distributed path's, which -1 selects. The exact
    // output holds at both settings (at the default bound this corpus's
    // 489,300 prefix candidates exceed threshold / 24 too, so both run the
    // distributed plan).
    for (threshold <- Seq(SparkTestBase.defaultBroadcastThreshold, "-1")) withBroadcastThreshold(threshold) {
      val pairs = Dedup.ngramJaccardPairs(skewed, n = 4, threshold = 0.8)
      if (threshold == "-1") {
        noWindow(pairs)
        assert(pairs.queryExecution.executedPlan.toString.contains("partial_count"))
      }
      // exact output: the 700-doc mega-cluster is every one of its
      // C(700, 2) pairs at 1.0 (the df-ordered prefix keeps the join on its
      // few rarest shingles), and the doc-unique docs share nothing
      val r = pairs.collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
      assert(r.length == 700 * 699 / 2, s"got ${r.length} pairs")
      assert(r.forall { case (a, b, j) => a < b && b < 700 && j == 1.0 })
      assert(r.map(x => (x._1, x._2)).toSet.size == r.length, "pairs must be distinct")
    }
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

  test("ngramJaccardPairs: the distributed per-doc prefix aggregate reads only shared posts") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectList, Partial}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    // The 700 mass copies post 7 shingles each, all shared; the 100 unique
    // docs post 6 each, all df 1. Only the 4,900 shared posts may reach the
    // collect_list, not all 5,500.
    withBroadcastThreshold("-1") {
      val pairs = Dedup.ngramJaccardPairs(skewed, n = 4, threshold = 0.8)
      assert(pairs.collect().length == 700 * 699 / 2)
      def rowsInto(p: SparkPlan): Long =
        p.metrics.get("numOutputRows").fold(rowsInto(p.children.head))(_.value)
      val inputs = new AdaptiveSparkPlanHelper {}.collect(pairs.queryExecution.executedPlan) {
        case a: ObjectHashAggregateExec if a.aggregateExpressions.exists {
          case AggregateExpression(_: CollectList, Partial, _, _, _) => true
          case _ => false
        } => rowsInto(a.child)
      }
      assert(inputs.nonEmpty && inputs.forall(_ == 700L * 7), s"rows into the per-doc aggregate: $inputs")
    }
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

  test("embeddingDupPairsLsh: a mass-duplicate bucket yields every pair; diffuse output is the brute-force set") {
    // 250 IDENTICAL vectors collide in every bucket of every table: all
    // C(250, 2) pairs come out, once each, at cosine 1.0
    val k = 250L
    val mega = (0L until k).map(i => (i, Array.tabulate(8)(d => (0.1 * (d + 1)).toFloat)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingDupPairsLsh(mega, threshold = 0.95).collect().map(r =>
      (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"), r.getAs[Double]("cosine")))
    assert(pairs.length == k * (k - 1) / 2, s"got ${pairs.length} pairs")
    assert(pairs.map(p => (p._1, p._2)).toSet.size == pairs.length)
    assert(pairs.forall { case (a, b, c) => a < b && c == 1.0 })

    // diffuse vectors plus 5 planted exact dups of ids 0..4 (the
    // q_dedup_embedding_lsh regime): the output is exactly the brute-force
    // cosine >= 0.95 set — the 5 planted pairs and one random pair at 0.952
    def vec(i: Long) = Array.tabulate(8)(d => (Dedup.mix64(i * 131 + d).toDouble / Long.MaxValue).toFloat)
    val rows = (0L until 120L).map(i => (i, vec(i))) ++ (0L until 5L).map(i => (i + 100000L, vec(i)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) = x.indices.map(d => x(d).toDouble * y(d)).sum
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val brute = (for ((a, va) <- rows; (b, vb) <- rows if a < b && cos(va, vb) >= 0.95) yield (a, b)).toSet
    assert(brute == (0L until 5L).map(i => (i, i + 100000L)).toSet + ((14L, 51L)))
    val found = Dedup.embeddingDupPairsLsh(rows.toDF("vec_id", "embedding"), threshold = 0.95)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(found == brute)
  }

  test("minhash, simhash and embedding-LSH pair searches plan no window") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val emb = (0L until 300L).map(i => (i, Array.tabulate(8)(d => if (d == i % 3) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val searches = Seq(
      "minhashPairs" -> (Dedup.minhashPairs(skewed), 700L * 699 / 2),
      "simhashPairsFromHashes" -> (Dedup.simhashPairsFromHashes(Dedup.simhashes(skewed), radius = 3),
        700L * 699 / 2),
      "embeddingDupPairsLsh" -> (Dedup.embeddingDupPairsLsh(emb), 3L * 100 * 99 / 2))
    searches.foreach { case (name, (pairs, expected)) =>
      noWindow(pairs)
      // the 700-copy mega-cluster and the three 100-copy vectors give every pair
      assert(pairs.collect().length == expected, name)
      val windows = new AdaptiveSparkPlanHelper {}.collect(pairs.queryExecution.executedPlan) {
        case p if p.nodeName.startsWith("Window") => p.nodeName
      }
      assert(windows.isEmpty, s"$name plans $windows")
    }
  }
}
