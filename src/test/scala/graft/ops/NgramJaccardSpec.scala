package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Exactness of the prefix-filtered n-gram Jaccard join against a
  * brute-force all-pairs computation over [[Dedup.shingleHashes]]: planted
  * boilerplate above any df bound, a pair on the rounding edge of the
  * threshold, and generated corpora with null, empty, one-token, identical
  * and boilerplate documents on 1 and 7 input partitions, one of them with
  * an exact-copy cluster of 210 documents.
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
        val exact = triples(Dedup.ngramJaccardPairs(input, n = 4, threshold = t))
        val at = s"seed $seed, $parts partitions, t=$t"
        assert(exact.size == exact.toSet.size, s"$at: duplicate rows")
        assert(exact.toSet == expected, s"$at: missing ${expected -- exact} extra ${exact.toSet -- expected}")
        val lsh = triples(Dedup.minhashPairs(input, n = 4, threshold = t)).toSet
        assert(lsh.subsetOf(expected), s"$at: ${lsh -- expected}")
        assert(copyPairs.subsetOf(lsh), s"$at: ${(copyPairs -- lsh).size} copy pairs missing")
      }
      assert(brute(rows, 4, 0.3).nonEmpty && brute(rows, 4, 1.0).nonEmpty, s"seed $seed corpus has no pairs")
    }
  }
}
