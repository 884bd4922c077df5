package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.SparkTestBase.{defaultBroadcastThreshold, withBroadcastThreshold}

/** Exactness of the prefix-filtered n-gram Jaccard join against a
  * brute-force all-pairs computation over [[Dedup.shingleHashes]]: planted
  * boilerplate above any df bound, a pair on the rounding edge of the
  * threshold, and generated corpora with null, empty, one-token, identical
  * and boilerplate documents on 1 and 7 input partitions, one of them with
  * an exact-copy cluster of 210 documents. The driver path equals the
  * distributed one on null and repeated doc_ids too, and the broadcast
  * threshold's byte and candidate bounds pick between them.
  */
class NgramJaccardSpec extends AnyFunSuite {
  private implicit lazy val spark: org.apache.spark.sql.SparkSession = SparkTestBase.spark

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  private def table(rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, t) => Row(id, t) }: _*), schema)

  /** Every pair sharing a shingle whose Jaccard, rounded HALF_UP to 4
    * places (Spark's `round` on a double), reaches `threshold`.
    */
  private def brute(rows: Seq[(Long, String)], n: Int, threshold: Double): Set[(Long, Long, Double)] = {
    val sets = rows.collect { case (id, t) if t != null => id -> Dedup.shingleHashes(t, n).toSet }
    (for {
      (a, sa) <- sets
      (b, sb) <- sets
      if a < b
      common = (sa & sb).size
      if common > 0
      j = BigDecimal(common.toDouble / (sa.size + sb.size - common))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= threshold
    } yield (a, b, j)).toSet
  }

  private def triples(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("boilerplate above any df bound stays in the Jaccard: near-dup pairs score their true value") {
    // 150 docs in 75 near-dup pairs; every doc ends in the same 5-token
    // footer, whose two 4-grams have df 150. A pair differs only in its
    // first token: 13 tokens, 10 shingles each, 9 shared, true Jaccard
    // 9/11 = 0.8182. The former df cap (128) dropped both footer shingles
    // from numerator and denominator and scored each pair 7/9 = 0.7778,
    // so all 75 were missed at 0.8.
    val footer = "all rights reserved by site"
    val rows = (0 until 75).flatMap { k =>
      val body = (1 to 7).map(i => s"w${k}_$i").mkString(" ")
      Seq((2L * k, s"a$k $body $footer"), (2L * k + 1, s"b$k $body $footer"))
    }
    val got = triples(Dedup.ngramJaccardPairs(table(rows), n = 4, threshold = 0.8))
    assert(got.size == got.toSet.size)
    assert(got.toSet == brute(rows, 4, 0.8))
    assert(got.toSet == (0 until 75).map(k => (2L * k, 2L * k + 1, 0.8182)).toSet)
  }

  test("a pair just under the threshold that rounds up to it is emitted") {
    // B's 16,000 shingles are a subset of A's 20,001 (A = 4,001 private
    // tokens, then B): true Jaccard 16000/20001 = 0.79996, which rounds to
    // 0.8. A's 4,001 private shingles (df 1) sort first, and a prefix
    // computed at exactly 0.8 is 20001 - ceil(16000.8) + 1 = 4001 long, all
    // private: the pair would never become a candidate.
    val shared = (0 until 16003).map(i => s"s$i").mkString(" ")
    val priv = (0 until 4001).map(i => s"p$i").mkString(" ")
    val rows = Seq((0L, s"$priv $shared"), (1L, shared))
    val a = Dedup.shingleHashes(rows(0)._2, 4).toSet
    val b = Dedup.shingleHashes(rows(1)._2, 4).toSet
    val trueJ = (a & b).size.toDouble / (a | b).size
    assert(trueJ >= 0.79995 && trueJ < 0.8, s"true Jaccard $trueJ")
    assert(triples(Dedup.ngramJaccardPairs(table(rows), n = 4, threshold = 0.8)) == Seq((0L, 1L, 0.8)))
  }

  /** A small corpus over a 6-word vocabulary: null and empty text, one-token
    * docs, exact copies, one-token edits of earlier docs, and docs sharing a
    * boilerplate phrase.
    */
  private def corpus(seed: Int, size: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Array("a", "b", "c", "d", "e", "f")
    def words(k: Int) = Seq.fill(k)(vocab(rnd.nextInt(vocab.length)))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until size).foreach { i =>
      val text = rnd.nextInt(8) match {
        case 0 => null
        case 1 => if (rnd.nextBoolean()) "" else vocab(rnd.nextInt(vocab.length))
        case 2 if texts.nonEmpty => texts(rnd.nextInt(texts.size))
        case 3 if texts.nonEmpty =>
          val w = texts(rnd.nextInt(texts.size)).split(" ", -1)
          w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.length))
          w.mkString(" ")
        case 4 => (words(1 + rnd.nextInt(6)) :+ "all rights reserved by site").mkString(" ")
        case _ => words(1 + rnd.nextInt(12)).mkString(" ")
      }
      if (text != null) texts += text
      out += ((3L * i + 1, text))
    }
    out.toSeq
  }

  test("ngramJaccardPairs equals brute force and minhashPairs is a subset, on 1 and 7 partitions") {
    for (seed <- 1 to 3) {
      // seed 3 adds 210 exact copies: one band bucket larger than the
      // 200-doc cap minhashPairs once applied, whose every pair is Jaccard 1
      val copies = if (seed == 3) (0L until 210L).map(i => (1000L + i, "a b c d e f a b")) else Nil
      val copyPairs = (for ((a, _) <- copies; (b, _) <- copies if a < b) yield (a, b, 1.0)).toSet
      val rows = corpus(seed, 40) ++ copies
      val docs = table(rows)
      for (parts <- Seq(1, 7); t <- Seq(0.3, 0.5, 0.8, 1.0)) {
        val input = docs.repartition(parts)
        val expected = brute(rows, 4, t)
        val at = s"seed $seed, $parts partitions, t=$t"
        // the default broadcast threshold takes the driver path, -1 the distributed one
        for (bound <- Seq(defaultBroadcastThreshold, "-1")) {
          val exact = withBroadcastThreshold(bound)(triples(Dedup.ngramJaccardPairs(input, n = 4, threshold = t)))
          assert(exact.size == exact.toSet.size, s"$at, broadcast threshold $bound: duplicate rows")
          assert(exact.toSet == expected,
            s"$at, broadcast threshold $bound: missing ${expected -- exact} extra ${exact.toSet -- expected}")
        }
        val lsh = triples(Dedup.minhashPairs(input, n = 4, threshold = t)).toSet
        assert(lsh.subsetOf(expected), s"$at: ${lsh -- expected}")
        assert(copyPairs.subsetOf(lsh), s"$at: ${(copyPairs -- lsh).size} copy pairs missing")
      }
      assert(brute(rows, 4, 0.3).nonEmpty && brute(rows, 4, 1.0).nonEmpty, s"seed $seed corpus has no pairs")
    }
  }

  /** True when `pairs` is the driver path's local relation. */
  private def inDriver(pairs: DataFrame): Boolean =
    pairs.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  private val nullableSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = true),
    StructField("text", StringType, nullable = true)))

  // corpus() rows with about one doc_id in 8 nulled and one in 8 taken from
  // an earlier row (that doc_id with another text); or one row, repeated
  private val mixedCorpora: Gen[Seq[(java.lang.Long, String)]] = for {
    seed <- Gen.chooseNum(1, 1 << 20)
    size <- Gen.chooseNum(2, 40)
    identical <- Gen.oneOf(true, false)
  } yield {
    val rnd = new scala.util.Random(seed)
    val rows = corpus(seed, size).map { case (id, t) => (java.lang.Long.valueOf(id), t) }
    val one = rows(rnd.nextInt(size))
    if (identical) Seq.fill(size)(one)
    else rows.indices.map { i =>
      rnd.nextInt(8) match {
        case 0 => (null, rows(i)._2)
        case 1 if i > 0 => (rows(rnd.nextInt(i))._1, rows(i)._2)
        case _ => rows(i)
      }
    }
  }

  test("the driver path equals the distributed path in rows and schema (property)") {
    var seen = Set.empty[String]
    val prop = Prop.forAllNoShrink(mixedCorpora) { rows =>
      val texts = rows.map(_._2)
      seen ++= Seq(
        "null doc_id" -> rows.exists(_._1 == null),
        "null text" -> texts.contains(null),
        "empty text" -> texts.contains(""),
        "repeated doc_id" -> rows.filter(_._1 != null).groupBy(_._1).exists(_._2.map(_._2).distinct.size > 1),
        "identical rows" -> (rows.distinct.size == 1)
      ).collect { case (feature, true) => feature }
      val docs = spark.createDataFrame(
        java.util.Arrays.asList(rows.map { case (id, t) => Row(id, t) }: _*), nullableSchema).repartition(3)
      val bad = for {
        t <- Seq(0.3, 0.8, 1.0)
        Seq(driver, distributed) = Seq(defaultBroadcastThreshold, "-1").map { bound =>
          withBroadcastThreshold(bound) {
            val pairs = Dedup.ngramJaccardPairs(docs, n = 4, threshold = t)
            (inDriver(pairs), pairs.schema, triples(pairs).groupBy(identity).map { case (p, c) => p -> c.size })
          }
        }
        if !driver._1 || distributed._1 || driver._2 != distributed._2 || driver._3 != distributed._3
      } yield s"t=$t: driver path $driver, distributed path $distributed"
      Prop(bad.isEmpty) :| bad.take(1).mkString("\n")
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(10).withInitialSeed(Seed(20261021L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    assert(seen == Set("null doc_id", "null text", "empty text", "repeated doc_id", "identical rows"),
      s"the fixed seed generated only $seen")
  }

  test("the driver path takes sets of at most threshold bytes and at most threshold / 24 candidates") {
    // Runs the search at broadcast threshold `bytes`: its pairs, the jobs it
    // started, and whether its plan holds an exchange.
    def run(rows: Seq[(Long, String)], bytes: Long): (Set[(Long, Long, Double)], Int, Boolean) =
      withBroadcastThreshold(bytes.toString) {
        var pairs: DataFrame = null
        var got = Set.empty[(Long, Long, Double)]
        val jobs = SparkTestBase.jobsStarted {
          pairs = Dedup.ngramJaccardPairs(table(rows), n = 4, threshold = 0.5)
          got = triples(pairs).toSet
        }
        val exchanges = new AdaptiveSparkPlanHelper {}.collect(pairs.queryExecution.executedPlan) {
          case e: Exchange => e
        }
        (got, jobs, exchanges.nonEmpty)
      }
    // three docs of 5 shingles: 3 * (5 * 8 + 16) = 168 bytes of sets, and
    // 4 prefix candidates, within 168 / 24 = 7
    val near = Seq((0L, "x a b c d e f g"), (1L, "y a b c d e f g"), (2L, "z a b c d e f h"))
    val setBytes = near.map(r => 8L * Dedup.shingleHashes(r._2, 4).length + 16).sum
    assert(setBytes == 168)
    assert(brute(near, 4, 0.5) == Set((0L, 1L, 0.6667)))
    val (atBound, atBoundJobs, atBoundExchange) = run(near, setBytes)
    assert(atBound == brute(near, 4, 0.5) && !atBoundExchange && atBoundJobs <= 3, s"$atBoundJobs jobs")
    val (overBound, _, overBoundExchange) = run(near, setBytes - 1)
    assert(overBound == brute(near, 4, 0.5) && overBoundExchange)
    // ten one-shingle copies: 240 bytes of sets, but one shingle posts all
    // ten prefixes, 45 candidate pairs, which need a threshold of 45 * 24
    val copies = (0L until 10L).map(i => (i, "x"))
    assert(brute(copies, 4, 0.5).size == 45)
    val (fits, fitsJobs, fitsExchange) = run(copies, 45 * 24)
    assert(fits == brute(copies, 4, 0.5) && !fitsExchange && fitsJobs <= 3, s"$fitsJobs jobs")
    val (tooMany, _, tooManyExchange) = run(copies, 45 * 24 - 1)
    assert(tooMany == brute(copies, 4, 0.5) && tooManyExchange)
  }
}
