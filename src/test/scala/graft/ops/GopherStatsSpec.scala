package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.expressions.GraftFunctions

/** The native one-pass Gopher gate ([[TextAnalysis.gopherRules]] through
  * `gopher_stats`) against the Column-arithmetic reference
  * ([[GopherReference]]): all 13 output columns equal, row for row, on
  * hand-picked edge texts and on generated ones, both through whole-stage
  * codegen and through interpreted evaluation.
  */
class GopherStatsSpec extends AnyFunSuite {
  private implicit lazy val spark: org.apache.spark.sql.SparkSession = SparkTestBase.spark

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  private def table(texts: Seq[String]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }: _*),
      schema)

  private def rows(df: DataFrame): Map[Long, Row] =
    df.collect().map(r => r.getLong(0) -> r).toMap

  /** The texts on which the native gate differs from the reference, each
    * with both rows. A local relation is evaluated by the interpreted
    * `eval`, a repartitioned one by generated code: both must agree.
    */
  private def mismatches(texts: Seq[String]): Seq[(String, Row, Row)] = {
    val docs = table(texts)
    val expected = rows(GopherReference.rules(docs))
    Seq(docs, docs.repartition(3)).flatMap { in =>
      val got = TextAnalysis.gopherRules(in)
      assert(got.columns.toSeq == GopherReference.rules(in).columns.toSeq)
      rows(got).toSeq.collect {
        case (id, r) if r != expected(id) => (texts(id.toInt), r, expected(id))
      }
    }
  }

  private val stopwords = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  private def mixedCase(w: String): Gen[String] =
    Gen.listOfN(w.length, Gen.oneOf(true, false))
      .map(up => w.zip(up).map { case (c, u) => if (u) c.toUpper else c }.mkString)

  private val token: Gen[String] = Gen.frequency(
    30 -> Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, Gen.alphaChar)).map(_.mkString),
    10 -> Gen.oneOf(stopwords).flatMap(mixedCase),
    // U+0130 lowers to 'i' + U+0307 and U+212A (Kelvin) to 'k'
    2 -> Gen.oneOf("W\u0130TH", "TH\u0130S", "the\u0130", "\u0130", "\u212a", "\u212aey",
      "\u212a\u212a", "\u00f3f"),
    2 -> Gen.oneOf("\ud835\udc9c", "\ud83d\ude00", "x\ud83d\ude00y", "\ud835\udc9cthe"),
    2 -> Gen.oneOf("\u2022", "\u2026", "word\u2026", "\u2026\u2026", "-", "--"),
    3 -> Gen.chooseNum(1, 7).map(".".repeat),
    2 -> Gen.chooseNum(1, 7).flatMap(k => Gen.alphaStr.map(w => w.take(5) + ".".repeat(k))),
    2 -> Gen.oneOf("#", "##", "#tag", "a#b"),
    2 -> Gen.oneOf("123", "4.5", "(note)", "\u00e9cole", "\u00fcber", "\u6587\u672c", "\u00a0"))

  private val separator: Gen[String] = Gen.frequency(
    30 -> " ", 3 -> "  ", 6 -> "\n", 2 -> "\n\n", 3 -> "\r\n", 2 -> "\t",
    2 -> "\u00a0", 2 -> "\n- ", 2 -> "\n\u2022 ", 1 -> "\n\u2022", 1 -> " \n")

  private val text: Gen[String] = for {
    n <- Gen.frequency(1 -> Gen.chooseNum(0, 8), 2 -> Gen.chooseNum(40, 120))
    toks <- Gen.listOfN(n, token)
    seps <- Gen.listOfN(n + 1, separator)
    lead <- Gen.oneOf("", "", "", " ", "\n", "- ", "\u2022 ")
    tail <- Gen.oneOf("", "", "", " ", "\n", "...", "\u2026", "\r\n")
  } yield lead + toks.zip(seps).map { case (t, s) => t + s }.mkString + tail

  private val batch: Gen[List[String]] =
    Gen.listOfN(40, Gen.frequency(20 -> text, 1 -> Gen.const(null), 1 -> Gen.const("")))

  test("gopher_stats gate equals the Column reference on edge texts") {
    val edges = Seq(
      null, "", " ", "\n", "\n\n", "\r\n", "\t", "\u00a0", "#", "...", "....", ".......",
      "\u2026", "..\u2026..", ". . .", "-", "- ", "- x", "\u2022 x", "\u2022x", "x -\n- y",
      "a...\nb\u2026\nc..\n...", "line...\r\nnext", "#..#\n##", "the", "The be", "THE\nBE",
      "\tthe be\t", "with\r\nthat", "W\u0130TH the", "\u212a of the", "\ud835\udc9c the of",
      "the\u00a0be to", "o\u0301f to", "x" * 5000,
      (("the be " + "alpha beta gamma delta " * 20) + "\n- bullet\n\u2022 bullet...").trim)
    assert(mismatches(edges).isEmpty, mismatches(edges).mkString("\n"))
  }

  test("gopher_stats gate equals the Column reference on generated text (property)") {
    val prop = Prop.forAll(batch) { texts =>
      val bad = mismatches(texts)
      Prop(bad.isEmpty) :| bad.take(3).mkString("\n")
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(25).withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    // the generators reach every rule from both sides
    val sample = (0 until 25).flatMap(i =>
      batch.pureApply(Gen.Parameters.default, Seed(20261019L + i)))
    val r = TextAnalysis.gopherRules(table(sample)).collect()
    Seq("keep", "r_word_count", "r_mean_word_len", "r_symbol_ratio", "r_bullet_lines",
      "r_ellipsis_lines", "r_alpha_words", "r_stopwords").foreach { c =>
      assert(r.map(_.getAs[Boolean](c)).distinct.length == 2, s"$c takes one value only")
    }
  }

  test("gopher_stats is called once per row, inside whole-stage codegen") {
    GraftFunctions.register(spark)
    // a range scan, not a local relation (which the optimizer evaluates
    // eagerly) and no shuffle (so the plan is not adaptive)
    val docs = spark.range(2).select(col("id").as("doc_id"),
      when(col("id") === 0, lit("the be " * 30)).as("text"))
    val keep = docs.select(col("doc_id"), TextAnalysis.gopherKeep(col("text")).as("keep"))
    val code = org.apache.spark.sql.execution.debug.codegenString(keep.queryExecution.executedPlan)
    assert("GopherImpl\\.stats\\(".r.findAllIn(code).length == 1, code)
    assert(keep.collect().map(_.getBoolean(1)).toSeq.sorted == Seq(false, false))
    val viaSql = spark.sql("SELECT gopher_stats('The be\\n- x...') AS s").head().getStruct(0)
    assert(viaSql.toSeq == Seq(4, 3, 10, 2, 1, 1, 0, 1, 2))
  }
}
