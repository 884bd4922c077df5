package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.SparkTestBase.{defaultBroadcastThreshold, jobsStarted, withBroadcastThreshold}

class DedupSpec extends AnyFunSuite {
  private implicit lazy val spark: org.apache.spark.sql.SparkSession = SparkTestBase.spark
  import spark.implicits._

  // tiny corpus with planted near-duplicates
  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 0
    (2L, "completely different text about database query optimization and planning"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (4L, "another unrelated document discussing spark partitioning and shuffles"),
    (5L, "completely different text about database query optimization and planning systems") // near-dup of 2
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, survivor = min id") {
    val r = Dedup.exact(docs).collect()
    assert(r.length == 5) // 6 docs, one exact pair
    val dup = r.find(_.getAs[Long]("dup_count") == 2).get
    assert(dup.getAs[Long]("keep_id") == 0L)
  }

  test("markDuplicates: canonical id is the min of the content group") {
    val r = Dedup.markDuplicates(docs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("canonical_id"), x.getAs[Boolean]("is_duplicate"))).toMap
    assert(r(3L) == ((0L, true))) // exact dup of doc 0
    assert(r(0L) == ((0L, false)))
    assert(r(1L) == ((1L, false))) // near-dup is NOT an exact dup
  }

  test("exact ngram jaccard finds planted near-dups and the exact dup") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L))) // exact dup: jaccard 1.0
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((2L, 5L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash LSH pairs equal exact pairs on the planted corpus") {
    val exact = Dedup.ngramJaccardPairs(docs, n = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.minhashPairs(docs, n = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == exact)
  }

  test("minhash signature approximates jaccard") {
    val a = Dedup.shingleHashes(docs.collect()(0).getString(1), 4)
    val b = Dedup.shingleHashes(docs.collect()(1).getString(1), 4)
    val sigA = Dedup.minhashSignature(a, 128)
    val sigB = Dedup.minhashSignature(b, 128)
    val est = sigA.zip(sigB).count { case (x, y) => x == y }.toDouble / 128
    val common = a.toSet.intersect(b.toSet).size
    val trueJ = common.toDouble / (a.length + b.length - common)
    assert(math.abs(est - trueJ) < 0.2, s"est=$est true=$trueJ")
  }

  test("simhash: identical texts collide, near texts are close, unrelated far") {
    val h0 = Dedup.simhash64(docs.collect()(0).getString(1))
    val h3 = Dedup.simhash64(docs.collect()(3).getString(1))
    val h1 = Dedup.simhash64(docs.collect()(1).getString(1))
    val h4 = Dedup.simhash64(docs.collect()(4).getString(1))
    assert(h0 == h3)
    assert(Dedup.hamming(h0, h1) < Dedup.hamming(h0, h4))
  }

  test("simhash pair search finds all pairs within radius (vs brute force)") {
    val hashes = docs.collect().map(r => (r.getLong(0), Dedup.simhash64(r.getString(1))))
    val radius = 12
    val brute = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes
      if ia < ib && Dedup.hamming(ha, hb) <= 3
    } yield (ia, ib)).toSet
    val found = Dedup.simhashPairs(docs, radius = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == brute, s"found=$found brute=$brute (radius check: $radius unused)")
  }

  test("exact ngram jaccard keeps every boilerplate-only pair at its true score") {
    val boiler = "all rights reserved worldwide"
    val big = (0 until 60)
      .map(i => (i.toLong, s"unique$i word$i token$i filler$i $boiler"))
      .toDF("doc_id", "text")
    // the only shared shingle is the boilerplate 4-gram (df=60) out of 5 per
    // doc: every pair scores exactly 1/(5+5-1), none is dropped
    val r = Dedup.ngramJaccardPairs(big, n = 4, threshold = 0.01)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    assert(r.length == 60 * 59 / 2)
    val allPairs = for (a <- 0L until 60L; b <- a + 1 until 60L) yield (a, b)
    assert(r.map(x => (x._1, x._2)).toSet == allPairs.toSet)
    assert(r.forall(_._3 == BigDecimal(1.0 / 9).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    // and the planted near-dup corpus keeps its exact dup and near-dup
    val defaults = Dedup.ngramJaccardPairs(docs, n = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(defaults.contains((0L, 3L)) && defaults.contains((0L, 1L)))
  }

  test("simhash mega-cluster: every pair of identical hashes, at radius 3 and at radius 0") {
    val k = 1200L
    val cluster = (0L until k).map(i => (i, 0x0123456789abcdefL)).toDF("doc_id", "simhash")
    // identical hashes share every table's bucket: the pair search must
    // still emit each of the C(k, 2) pairs exactly once, at hamming 0
    Seq(3, 0).foreach { radius =>
      val pairs = Dedup.simhashPairsFromHashes(cluster, radius = radius)
      assert(pairs.count() == k * (k - 1) / 2, s"radius $radius")
      assert(pairs.select("a_id", "b_id").distinct().count() == k * (k - 1) / 2)
      assert(pairs.filter(col("hamming") =!= 0 || col("a_id") >= col("b_id")).count() == 0L)
    }
  }

  test("multi-table simhash construction is exhaustive within radius (random)") {
    // 80 deterministic pseudo-random hashes + planted neighbors at distance <= 3
    val base = (0 until 80).map(i => Dedup.mix64(0x51ab1eL + i))
    val planted = (0 until 40).map { i =>
      val h = base(i % 80)
      var x = h
      val flips = i % 4 // 0..3 bit flips
      (0 until flips).foreach(k => x ^= (1L << ((Dedup.mix64(i * 31 + k) >>> 1) % 64).toInt))
      x
    }
    val all = (base ++ planted).zipWithIndex.map { case (h, i) => (i.toLong, h) }
    val df2 = all.toDF("doc_id", "simhash")
    val brute = (for {
      (ia, ha) <- all.map(_.swap); (ib, hb) <- all.map(_.swap)
      if ha < hb && Dedup.hamming(ia, ib) <= 3
    } yield (ha, hb)).toSet
    val found = Dedup.simhashPairsFromHashes(df2, radius = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == brute, s"missing=${(brute -- found).take(5)} extra=${(found -- brute).take(5)}")
  }

  // generated hash sets: random hashes, neighbours planted at hamming 0-4,
  // one identical-hash cluster and two copies of a hash near that cluster
  private val hashSets: Gen[Seq[Long]] = for {
    n <- Gen.chooseNum(5, 40)
    base <- Gen.listOfN(n, Gen.long)
    flips = for { d <- Gen.chooseNum(0, 4); bits <- Gen.pick(d, 0 until 64) } yield bits
    planted <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, n - 1), flips))
    cluster <- Gen.zip(Gen.long, Gen.chooseNum(2, 30))
    near <- flips
  } yield {
    def flip(h: Long, bits: Iterable[Int]) = bits.foldLeft(h)((x, b) => x ^ (1L << b))
    base ++ planted.map { case (i, bits) => flip(base(i), bits) } ++
      Seq.fill(cluster._2)(cluster._1) ++ Seq.fill(2)(flip(cluster._1, near))
  }

  test("simhashPairsFromHashes equals brute force at radius 0-4 on 1 and 7 partitions (property)") {
    val prop = Prop.forAll(hashSets) { hs =>
      val rows = hs.zipWithIndex.map { case (h, i) => (3L * i + 1, h) }
      val bad = for {
        parts <- Seq(1, 7)
        radius <- 0 to 4
        expected = (for ((a, ha) <- rows; (b, hb) <- rows if a < b && Dedup.hamming(ha, hb) <= radius)
          yield (a, b, Dedup.hamming(ha, hb))).toSet
        got = Dedup.simhashPairsFromHashes(rows.toDF("doc_id", "simhash").repartition(parts), radius)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
        if got.size != expected.size || got.toSet != expected
      } yield s"$parts partitions, radius $radius: missing ${expected -- got} extra ${got.toSet -- expected}"
      Prop(bad.isEmpty) :| bad.take(2).mkString("\n")
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(8).withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("dup clusters: connected components with min-id survivors") {
    // components: {0,1,3} (chain 0-1, 0-3), {2,5}, singletons 4, 6
    val nodes = (0L to 6L).map(i => (i, s"text$i")).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L, 1.0), (0L, 3L, 1.0), (2L, 5L, 1.0))
      .toDF("a_id", "b_id", "jaccard")
    val r = Dedup.dupClusters(nodes, pairs)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(0L -> 0L, 1L -> 0L, 3L -> 0L, 2L -> 2L, 5L -> 2L, 4L -> 4L, 6L -> 6L))
    // a long chain needs diameter iterations, not one
    val chain = (0L to 9L).sliding(2).map(p => (p(0), p(1), 1.0)).toSeq
      .toDF("a_id", "b_id", "jaccard")
    val nodes10 = (0L to 9L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val rc = Dedup.dupClusters(nodes10, chain)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(rc.values.toSet == Set(0L), s"chain must collapse to one cluster: $rc")
  }

  test("dup clusters: a pair endpoint missing from docs joins nothing, duplicate rows stay") {
    // 0-99-1 where 99 is not a doc: labels propagate only through docs, so
    // 0 and 1 stay apart; doc 5 appears twice and keeps both rows
    val nodes = Seq(0L, 1L, 5L, 5L, 6L).map(i => (i, s"text$i")).toDF("doc_id", "text")
    val pairs = Seq((0L, 99L, 1.0), (1L, 99L, 1.0), (5L, 6L, 1.0))
      .toDF("a_id", "b_id", "jaccard")
    val r = Dedup.dupClusters(nodes, pairs)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toSeq.sorted
    assert(r == Seq(0L -> 0L, 1L -> 1L, 5L -> 5L, 5L -> 5L, 6L -> 5L))
  }

  /** In-memory union-find reference for [[Dedup.dupClusters]]: each doc
    * row's smallest reachable doc_id, joining only pairs whose two ends are
    * docs. Linking the larger root under the smaller keeps every root its
    * component's minimum.
    */
  private def unionFindClusters(docIds: Seq[Long], pairs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.Map(docIds.map(i => i -> i): _*)
    def find(x: Long): Long = {
      val p = parent(x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs if parent.contains(a) && parent.contains(b)) {
      val (ra, rb) = (find(a), find(b))
      parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    docIds.map(i => i -> find(i)).sorted
  }

  // doc rows (ids may repeat) and (a_id, b_id) pairs: a sparse random part,
  // a chain in id order, a chain in shuffled order, a star whose center is
  // not its minimum, a clique, bridges through ids that are not docs,
  // reversed, duplicated and self pairs, duplicated doc rows; or no pairs;
  // and 0-2 doc rows with a null doc_id
  private val ccCases: Gen[(Seq[Long], Seq[(Long, Long)], Int)] = for {
    sizes <- Gen.listOfN(5, Gen.choose(2, 12))
    noPairs <- Gen.frequency(1 -> true, 4 -> false)
    nullDocs <- Gen.choose(0, 2)
    seed <- Gen.long
  } yield {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((1L to 300L).toVector).take(sizes.sum + 5)
    val Seq(sparse, ordered, shuffled, star, clique) =
      sizes.scanLeft(0)(_ + _).sliding(2).map(w => ids.slice(w(0), w(1))).toSeq
    def pick(s: Seq[Long]) = s(rnd.nextInt(s.size))
    val chains = ordered.sorted.sliding(2).map(c => (c(0), c(1))) ++
      shuffled.sliding(2).map(c => (c(0), c(1)))
    val absent = Seq.fill(3)(1000L + rnd.nextInt(5))
    val base = Seq.fill(2 * sparse.size)((pick(sparse), pick(sparse))) ++ chains ++
      star.tail.map(star.head -> _) ++
      clique.combinations(2).map(c => (c(0), c(1))) ++
      absent.flatMap(x => Seq((x, pick(ids)), (pick(ids), x)))
    val pairs = base.map(e => if (rnd.nextBoolean()) e.swap else e) ++
      base.filter(_ => rnd.nextInt(4) == 0) ++ Seq.fill(3)(pick(ids)).map(x => (x, x))
    (ids ++ Seq.fill(3)(pick(ids)), if (noPairs) Seq.empty else pairs, nullDocs)
  }

  private val nullableDocs = StructType(Seq(
    StructField("doc_id", LongType, nullable = true),
    StructField("text", StringType, nullable = true)))

  private def optionalLong(r: Row, i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))

  test("dup clusters equal an in-memory union-find on 1 and 7 partitions (property)") {
    var sawNoPairs = false
    var sawNullDoc = false
    val prop = Prop.forAllNoShrink(ccCases) { case (docIds, pairs, nullDocs) =>
      sawNoPairs ||= pairs.isEmpty
      sawNullDoc ||= nullDocs > 0
      // a null doc_id row is labelled (null, null)
      val expected = (unionFindClusters(docIds, pairs).map { case (d, c) => (Option(d), Option(c)) } ++
        Seq.fill(nullDocs)((None, None))).sorted
      val docRows = docIds.map(i => Row(i, s"t$i")) ++ Seq.fill(nullDocs)(Row(null, "no id"))
      val bad = for {
        // the default threshold takes the in-memory path, -1 the loop
        (path, threshold) <- Seq("in-memory" -> defaultBroadcastThreshold, "distributed" -> "-1")
        parts <- Seq(1, 7)
        got = withBroadcastThreshold(threshold) {
          Dedup.dupClusters(
              spark.createDataFrame(java.util.Arrays.asList(docRows: _*), nullableDocs).repartition(parts),
              pairs.toDF("a_id", "b_id").repartition(parts))
            .collect().map(r => optionalLong(r, 0) -> optionalLong(r, 1)).toSeq.sorted
        }
        if got != expected
      } yield s"$path, $parts partitions: expected $expected got $got"
      Prop(bad.isEmpty) :| bad.take(1).mkString("\n")
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(8).withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    assert(sawNoPairs, "the fixed seed must generate a case with no pairs")
    assert(sawNullDoc, "the fixed seed must generate a case with a null doc_id")
  }

  test("contamination: train/test n-gram overlap with planted cases") {
    val train = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val test = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // exact copy -> 1.0
      // first 10 tokens copied from train doc 0, last 5 unique: shingles
      // (n=4, 12 windows) split 7 contaminated / 5 clean
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa uniq1 uniq2 uniq3 uniq4 uniq5"),
      (12L, "entirely fresh held out content with no training overlap at all") // -> 0.0
    ).toDF("doc_id", "text")
    val r = Dedup.contamination(train, test, n = 4, threshold = 0.8)
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(10L).getAs[Double]("contamination_frac") == 1.0)
    assert(r(10L).getAs[Boolean]("is_contaminated"))
    assert(r(11L).getAs[Long]("n_shingles") == 12)
    assert(r(11L).getAs[Long]("contaminated_shingles") == 7)
    assert(!r(11L).getAs[Boolean]("is_contaminated")) // 0.5833 < 0.8
    assert(r(12L).getAs[Double]("contamination_frac") == 0.0)
  }

  test("star contraction collapses a 1000-node chain within the round bound") {
    // diameter 999: min-label propagation would need 999 rounds; star
    // contraction is O(log^2 n) on any shape
    val n = 1000L
    val nodes = (0L until n).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val chain = (0L until n - 1).map(i => (i, i + 1, 1.0)).toDF("a_id", "b_id", "jaccard")
    // -1 disables the in-memory path, so the contraction loop runs
    val r = withBroadcastThreshold("-1") {
      Dedup.dupClusters(nodes, chain, maxIters = 25)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    }
    assert(r.size == 1000 && r.values.toSet == Set(0L))
  }

  /** True when `df`'s plan is a driver path's local relation with no exchange. */
  private def onDriver(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation] &&
      new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) { case e: Exchange => e }.isEmpty

  test("dup clusters: doc and pair rows up to threshold / 16 finish in memory, more run the loop") {
    // 6 doc rows and the 3 pairs of the chain 0-1-2-3 are 9 rows of two
    // longs, 144 bytes; the chord 0-2 makes 160 bytes and the same one
    // component
    val nodes = (0L to 5L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    val expected = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 4L, 5L -> 5L)
    withBroadcastThreshold("144") {
      def run(pairs: Seq[(Long, Long)]): (Map[Long, Long], Int, Boolean) = {
        var labels: DataFrame = null
        var got = Map.empty[Long, Long]
        val jobs = jobsStarted {
          labels = Dedup.dupClusters(nodes, pairs.toDF("a_id", "b_id"))
          got = labels.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
        }
        (got, jobs, onDriver(labels))
      }
      val (inMemory, inMemoryJobs, inMemoryOnDriver) = run(chain)
      val (loop, loopJobs, loopOnDriver) = run(chain :+ (0L -> 2L))
      assert(inMemory == expected && loop == expected)
      assert(inMemoryOnDriver && !loopOnDriver)
      assert(inMemoryJobs <= 1 && inMemoryJobs < loopJobs, s"in-memory $inMemoryJobs jobs, loop $loopJobs jobs")
    }
  }

  test("iterative CC uses reliable checkpoints when a checkpoint dir is set") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    // the session (and its SparkContext) is shared across every suite in the
    // forked JVM, and setCheckpointDir has no public unset — leaving it set
    // while deleting the dir would silently switch every LATER iterative test
    // from localCheckpoint to reliable checkpoints rooted at a deleted path,
    // making test behavior order-dependent. Restore the exact prior state in
    // finally; private[spark] members are public in bytecode, so reflection
    // reaches the setter.
    val sc = spark.sparkContext
    val prevCkptDir = sc.getCheckpointDir
    try {
      sc.setCheckpointDir(dir.getAbsolutePath)
      val nodes = (0L to 5L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      val pairs = Seq((0L, 1L, 1.0), (1L, 2L, 1.0)).toDF("a_id", "b_id", "jaccard")
      // the contraction loop checkpoints every round: keep it on that path
      val r = withBroadcastThreshold("-1") {
        Dedup.dupClusters(nodes, pairs)
          .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      }
      assert(r(2L) == 0L && r(5L) == 5L)
      // fault-tolerant state actually landed on (shared) storage
      val wrote = java.nio.file.Files.walk(dir.toPath).filter(_.toFile.isFile).count()
      assert(wrote > 0, "expected reliable checkpoint files under the checkpoint dir")
    } finally {
      sc.getClass
        .getMethod("checkpointDir_$eq", classOf[Option[_]])
        .invoke(sc, prevCkptDir)
      assert(sc.getCheckpointDir == prevCkptDir,
        "checkpoint-dir state must be restored for suite isolation")
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      ()
    }
  }

  test("passage dedup: cross-doc duplicated windows counted, within-doc repeats not") {
    val corpus = Seq(
      // docs 0 and 1 share a verbatim 12-token passage; doc 2 is unrelated;
      // doc 3 repeats its own phrase twice (within-doc only -> not duplicated)
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu unique0 end0"),
      (1L, "start1 alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu tail1"),
      (2L, "totally different words that appear nowhere else in the corpus at all here"),
      (3L, "one two three four five six seven eight nine ten one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val r = Dedup.passageDupStats(corpus, n = 10)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("windows"), x.getAs[Long]("dup_windows"))).toMap
    // 14-token docs -> 5 windows; the shared 12-token run yields 3 shared
    // 10-token windows per doc
    assert(r(0L) == ((5L, 3L)), s"doc0: ${r(0L)}")
    assert(r(1L) == ((5L, 3L)), s"doc1: ${r(1L)}")
    assert(r(2L)._2 == 0L)
    assert(r(3L)._2 == 0L, "within-doc repetition must not count as duplication")
    assert(r(3L)._1 == 11L) // 20 tokens -> 11 windows
  }

  test("duplicated-span masking: maximal token spans, touching/overlapping merge") {
    // n=3, minDocs=2. A and B share the runs s1..s4 and t1..t3; C is clean;
    // D and E share grams at D-windows 1 and 3 but NOT 2 (E lacks
    // "a2 a3 a4") — the token intervals still overlap, so D must report
    // ONE merged span, which a consecutive-window-only merge would split.
    val corpus = Seq(
      (0L, "x1 x2 s1 s2 s3 s4 x3 x4 t1 t2 t3"),            // 11 tokens
      (1L, "s1 s2 s3 s4 y1 t1 t2 t3"),                     // 8 tokens
      (2L, "c1 c2 c3 c4 c5 c6"),                           // clean
      (3L, "a1 a2 a3 a4 a5"),                              // D
      (4L, "a1 a2 a3 zz a3 a4 a5")                         // E
    ).toDF("doc_id", "text")
    val r = Dedup.dupSpans(corpus, n = 3, minDocs = 2)
    val byId = r.collect().map { row =>
      row.getAs[Long]("doc_id") -> ((
        row.getAs[collection.Seq[org.apache.spark.sql.Row]]("spans")
          .map(s => (s.getAs[Long]("span_start"), s.getAs[Long]("span_end")))
          .toList: Seq[(Long, Long)],
        row.getAs[Long]("dup_tokens"),
        row.getAs[Long]("total_tokens")))
    }.toMap
    // A: dup windows 3,4 (s-run) and 9 (t-run): gap 5 > 3 keeps them apart
    assert(byId(0L) == ((Seq((3L, 6L), (9L, 11L)), 7L, 11L)), byId(0L))
    // B: dup windows 1,2 and 6
    assert(byId(1L) == ((Seq((1L, 4L), (6L, 8L)), 7L, 8L)), byId(1L))
    // clean doc: present with an empty span list
    assert(byId(2L) == ((Seq.empty, 0L, 6L)), byId(2L))
    // D: dup windows 1 and 3 — window gap 2 <= n, intervals [1,3] and
    // [3,5] overlap: ONE span covering the whole doc
    assert(byId(3L) == ((Seq((1L, 5L)), 5L, 5L)), byId(3L))
    assert(byId(4L)._2 > 0L, "E shares both runs")
    // the flat listing form is exactly the rollup's spans, exploded
    val flat = Dedup.dupSpanList(corpus, n = 3, minDocs = 2).collect()
      .map(x => (x.getAs[Long]("doc_id"),
        x.getAs[Long]("span_start"), x.getAs[Long]("span_end"))).toSet
    val expected = byId.toSeq.flatMap { case (id, (spans, _, _)) =>
      spans.map(sp => (id, sp._1, sp._2))
    }.toSet
    assert(flat == expected, s"flat=$flat expected=$expected")
  }

  test("cutDupSpans removes exactly the masked tokens and keeps order") {
    val corpus = Seq(
      (0L, "x1 x2 s1 s2 s3 s4 x3 x4 t1 t2 t3"),
      (1L, "s1 s2 s3 s4 y1 t1 t2 t3"),
      (2L, "c1 c2 c3 c4 c5 c6"),          // clean: text unchanged
      (3L, "a1 a2 a3 a4 a5"),             // fully duplicated -> empty
      (4L, "a1 a2 a3 zz a3 a4 a5")
    ).toDF("doc_id", "text")
    val r = Dedup.cutDupSpans(corpus, n = 3, minDocs = 2).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[String]("clean_text"), x.getAs[Long]("kept_tokens")))).toMap
    assert(r(0L) == (("x1 x2 x3 x4", 4L)), r(0L))
    assert(r(1L) == (("y1", 1L)), r(1L))
    assert(r(2L) == (("c1 c2 c3 c4 c5 c6", 6L)), r(2L))
    assert(r(3L) == (("", 0L)), r(3L))
    assert(r.size == 5)
  }

  test("cutDupSpansKeepFirst spares the globally first occurrence only") {
    val corpus = Seq(
      (0L, "x1 x2 s1 s2 s3 s4 x3 x4 t1 t2 t3"),
      (1L, "s1 s2 s3 s4 y1 t1 t2 t3"),
      (2L, "c1 c2 c3 c4 c5 c6"),          // clean: text unchanged
      (3L, "a1 a2 a3 a4 a5"),             // all canonical -> fully kept
      (4L, "a1 a2 a3 zz a3 a4 a5")
    ).toDF("doc_id", "text")
    val r = Dedup.cutDupSpansKeepFirst(corpus, n = 3, minDocs = 2).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[String]("clean_text"), x.getAs[Long]("kept_tokens")))).toMap
    // doc 0 holds the min-(doc_id, i) occurrence of every shared run with
    // doc 1, so it survives verbatim where the destructive cut gutted it
    assert(r(0L) == (("x1 x2 s1 s2 s3 s4 x3 x4 t1 t2 t3", 11L)), r(0L))
    assert(r(1L) == (("y1", 1L)), r(1L))
    assert(r(2L) == (("c1 c2 c3 c4 c5 c6", 6L)), r(2L))
    // doc 3 is the canonical copy of the a-run: kept, not emptied
    assert(r(3L) == (("a1 a2 a3 a4 a5", 5L)), r(3L))
    // doc 4's two duplicated windows (i=1, i=5) are both non-canonical;
    // gap 4 > n=3 keeps them separate spans, sparing only "zz"
    assert(r(4L) == (("zz", 1L)), r(4L))
    assert(r.size == 5)
  }

  test("cutDupSpansKeepFirst keep guarantee is per-window, not per-token") {
    // The documented granularity caveat: doc 1's canonical "p q r" window
    // (shared with doc 2, elected at (1,1)) OVERLAPS the non-canonical
    // runs "q r s"/"r s t" (canonical in doc 0) — cutting those destroys
    // tokens 2-3 of the canonical window, so NO verbatim "p q r" survives
    // anywhere. Only a fully disjoint canonical window survives verbatim.
    val corpus = Seq(
      (0L, "q r s t c d"),   // canonical copy of "q r s" and "r s t"
      (1L, "p q r s t"),     // canonical copy of "p q r", rest duplicated
      (2L, "p q r s x")
    ).toDF("doc_id", "text")
    val r = Dedup.cutDupSpansKeepFirst(corpus, n = 3, minDocs = 2).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[String]("clean_text"), x.getAs[Long]("kept_tokens")))).toMap
    assert(r(0L) == (("q r s t c d", 6L)), r(0L))
    // doc 1: cut windows i=2,i=3 merge (gap 1 <= 3) into span tokens 2-5;
    // the canonical "p q r" window loses its q,r tokens to that span
    assert(r(1L) == (("p", 1L)), r(1L))
    // doc 2: both windows ("p q r" canonical at (1,1), "q r s" canonical
    // at (0,1)) are non-canonical HERE; the merged span cuts tokens 1-4
    assert(r(2L) == (("x", 1L)), r(2L))
    assert(r.size == 3)
  }

  test("ngramJaccardPairs: a doc_id listed twice pairs through its shorter set, on both paths") {
    // doc 1's second row is doc 2's text. Its merged prefix is sized by its
    // shorter set (5 shingles), not by both (25), whose prefix would hold
    // none of the 5 shared shingles and miss the pair.
    val long = (1 to 23).map(i => s"w$i").mkString(" ")
    val short = "a b c d e f g h"
    val docs = Seq((1L, long), (1L, short), (2L, short)).toDF("doc_id", "text")
    for (threshold <- Seq(defaultBroadcastThreshold, "-1")) withBroadcastThreshold(threshold) {
      val r = Dedup.ngramJaccardPairs(docs, n = 4, threshold = 0.8)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq
      assert(r == Seq((1L, 2L, 1.0)), s"broadcast threshold $threshold")
    }
  }

  test("keepBestInCluster elects max quality, ties to min doc_id") {
    // clusters: {0,1,2} (qualities 5,9,9 -> best is doc 1), {3} singleton,
    // {4,5} (qualities 7,7 -> tie, best is doc 4)
    val labels = Seq(
      (0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L), (4L, 4L), (5L, 4L)
    ).toDF("doc_id", "cluster_id")
    val quality = Seq(
      (0L, 5L), (1L, 9L), (2L, 9L), (3L, 1L), (4L, 7L), (5L, 7L)
    ).toDF("doc_id", "quality")
    val r = Dedup.keepBestInCluster(labels, quality).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("cluster_id"), x.getAs[Long]("quality"),
          x.getAs[Boolean]("keep")))).toMap
    assert(r.size == 6)
    assert(r.filter(_._2._3).keySet == Set(1L, 3L, 4L), r.toString)
    assert(r(2L) == ((0L, 9L, false)))
    // exactly one survivor per cluster
    assert(r.values.groupBy(_._1).forall(_._2.count(_._3) == 1))
  }

  test("election plans are hash-aggregable: no SortAggregate anywhere") {
    // the whole point of the two-pass elections (keep-first span cut,
    // keep-best cluster canonical) is avoiding the SortAggregate a
    // min(struct)/max_by buffer plans as — pin it so a 'simplification'
    // back to struct aggregates cannot land silently
    val corpus = Seq(
      (0L, "a b c d e f g h i j k l m n"),
      (1L, "a b c d e f g h i j k l m n"),
      (2L, "totally different text here with words")
    ).toDF("doc_id", "text")
    val cutPlan = Dedup.cutDupSpansKeepFirst(corpus, n = 3, minDocs = 2)
      .queryExecution.executedPlan.toString
    assert(cutPlan.contains("HashAggregate"), s"expected HashAggregate in:\n$cutPlan")
    assert(!cutPlan.contains("SortAggregate"),
      s"no SortAggregate may remain in:\n$cutPlan")
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 2L)).toDF("doc_id", "cluster_id")
    val quality = Seq((0L, 5L), (1L, 9L), (2L, 1L)).toDF("doc_id", "quality")
    // the keep-best aggregates exist on its distributed path only, which -1
    // selects; under the default threshold the election is a local relation
    val bestPlan = withBroadcastThreshold("-1") {
      Dedup.keepBestInCluster(labels, quality).queryExecution.executedPlan.toString
    }
    assert(bestPlan.contains("HashAggregate"), s"expected HashAggregate in:\n$bestPlan")
    assert(!bestPlan.contains("SortAggregate"),
      s"no SortAggregate may remain in:\n$bestPlan")
    assert(onDriver(Dedup.keepBestInCluster(labels, quality)))
  }

  test("keepBestInCluster keeps unscored docs: null quality never wins, all-null falls back") {
    // doc 2 has no quality row, doc 5's is null; cluster {6,7} is ALL
    // unscored and must fall back to the min-doc_id canonical
    val labels = Seq(
      (0L, 0L), (1L, 0L), (2L, 0L), (5L, 5L), (6L, 6L), (7L, 6L)
    ).toDF("doc_id", "cluster_id")
    val quality = Seq(
      (0L, Some(5L)), (1L, Some(9L)), (5L, None), (6L, None), (7L, None)
    ).toDF("doc_id", "quality")
    val r = Dedup.keepBestInCluster(labels, quality).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((Option(x.getAs[java.lang.Long]("quality")).map(_.longValue),
          x.getAs[Boolean]("keep")))).toMap
    assert(r.size == 6, r.toString) // nobody silently dropped
    assert(r(1L) == ((Some(9L), true)))
    assert(r(2L) == ((None, false))) // missing row -> annotated, not elected
    assert(r(5L) == ((None, true))) // singleton cluster, unscored: kept
    assert(r(6L) == ((None, true)) && r(7L) == ((None, false))) // all-null fallback
  }

  private val labelSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = true),
    StructField("cluster_id", LongType, nullable = true)))

  private val scoreSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = true),
    StructField("quality", DoubleType, nullable = true)))

  // (doc_id, cluster_id) label rows and (doc_id, quality) rows: random
  // clusters over docs 1..n with about one doc in five unscored and
  // qualities drawn with ties from {NaN, -0.0, 0.0, 1.0, 2.5, null}; and in
  // every case a null doc_id in both tables, a null cluster_id, a doc_id
  // listed twice in each table, an all-unscored cluster, a cluster whose
  // NaN beats 2.5, and one whose -0.0 ties 0.0 (the lower doc_id wins)
  private val keepBestCases: Gen[(Seq[Row], Seq[Row])] = for {
    n <- Gen.choose(5, 40)
    seed <- Gen.long
  } yield {
    val rnd = new scala.util.Random(seed)
    val qualities = Seq[java.lang.Double](Double.NaN, -0.0, 0.0, 1.0, 2.5, null)
    def quality() = qualities(rnd.nextInt(qualities.size))
    val labels = (1L to n).map(d => Row(d, 1L + rnd.nextInt(1 + n / 3))) ++ Seq(
      Row(null, 1L), Row(2L, null), Row(3L, 2L),
      Row(100L, 100L), Row(101L, 100L),
      Row(200L, 200L), Row(201L, 200L),
      Row(300L, 300L), Row(301L, 300L), Row(302L, 300L))
    val scores = (1L to n).filter(_ => rnd.nextInt(5) != 0).map(d => Row(d, quality())) ++ Seq(
      Row(null, 9.0), Row(4L, quality()), Row(4L, quality()),
      Row(100L, null),
      Row(200L, 2.5), Row(201L, Double.NaN),
      Row(301L, -0.0), Row(302L, 0.0))
    (rnd.shuffle(labels), rnd.shuffle(scores))
  }

  /** `df`'s rows as a multiset of strings, doubles by their bits. */
  private def rowBag(df: DataFrame): Map[String, Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => s"double ${java.lang.Double.doubleToLongBits(d)}"
      case x => String.valueOf(x)
    }.mkString(", ")).groupBy(identity).map { case (k, v) => k -> v.size }

  test("keepBestInCluster: the driver election equals the distributed one on 1 and 7 partitions (property)") {
    val prop = Prop.forAllNoShrink(keepBestCases) { case (labelRows, scoreRows) =>
      val bad = for {
        parts <- Seq(1, 7)
        labels = spark.createDataFrame(java.util.Arrays.asList(labelRows: _*), labelSchema).repartition(parts)
        scores = spark.createDataFrame(java.util.Arrays.asList(scoreRows: _*), scoreSchema).repartition(parts)
        // the default threshold takes the driver path, -1 the distributed one
        Seq(driver, distributed) = Seq(defaultBroadcastThreshold, "-1").map { bound =>
          withBroadcastThreshold(bound) {
            val kept = Dedup.keepBestInCluster(labels, scores)
            (onDriver(kept), kept.schema, rowBag(kept))
          }
        }
        if !driver._1 || distributed._1 || driver._2 != distributed._2 || driver._3 != distributed._3
      } yield s"$parts partitions: driver path $driver, distributed path $distributed"
      Prop(bad.isEmpty) :| bad.take(1).mkString("\n")
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(8).withInitialSeed(Seed(20261022L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    // the fixed cases' winners, on the driver path
    val (labelRows, scoreRows) = keepBestCases.pureApply(Gen.Parameters.default, Seed(20261022L))
    val kept = Dedup.keepBestInCluster(
        spark.createDataFrame(java.util.Arrays.asList(labelRows: _*), labelSchema),
        spark.createDataFrame(java.util.Arrays.asList(scoreRows: _*), scoreSchema))
      .filter(col("cluster_id") >= 100).filter(col("keep")).collect().map(_.getLong(0)).toSet
    assert(kept == Set(100L, 201L, 301L), kept)
  }

  test("keepBestInCluster: label and quality rows up to threshold / 32 elect on the driver, more run the plan") {
    // 3 label rows and 3 quality rows are 6 rows of 32 bytes, 192 bytes
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 2L)).toDF("doc_id", "cluster_id")
    val quality = Seq((0L, 5L), (1L, 9L), (2L, 1L)).toDF("doc_id", "quality")
    def run(bytes: Int): (Set[(Long, Boolean)], Int, Boolean) = withBroadcastThreshold(bytes.toString) {
      var kept: DataFrame = null
      var got = Set.empty[(Long, Boolean)]
      val jobs = jobsStarted {
        kept = Dedup.keepBestInCluster(labels, quality)
        got = kept.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toSet
      }
      (got, jobs, onDriver(kept))
    }
    val expected = Set(0L -> false, 1L -> true, 2L -> true)
    val (atBound, atBoundJobs, atBoundOnDriver) = run(192)
    val (overBound, overBoundJobs, overBoundOnDriver) = run(191)
    assert(atBound == expected && overBound == expected)
    assert(atBoundOnDriver && !overBoundOnDriver)
    assert(atBoundJobs <= 1 && atBoundJobs < overBoundJobs, s"driver $atBoundJobs jobs, plan $overBoundJobs jobs")
  }

  test("label-free LSH embedding dedup covers the label-blocked pairs") {
    // 6 tight clusters, no reliance on the label column at query time
    val emb2 = (0L until 60L).map { i =>
      val label = (i % 6).toInt
      val v = Array.tabulate(16) { d =>
        val center = Dedup.mix64(label * 104729L + d).toDouble / Long.MaxValue
        val noise = Dedup.mix64(i * 131 + d).toDouble / Long.MaxValue * 0.02
        (center + noise).toFloat
      }
      (i, v, label)
    }.toDF("vec_id", "embedding", "label")
    val blocked = Dedup.embeddingDupPairs(emb2, threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val lsh = Dedup.embeddingDupPairsLsh(emb2, threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(blocked.nonEmpty)
    // bucketed pairs must be a superset: everything the label blocking finds,
    // plus any cross-label high-cosine pairs the label cannot see
    assert(blocked.subsetOf(lsh), s"missing: ${(blocked -- lsh).take(5)}")
  }

  test("embedding dup pairs respect threshold and blocking") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 1),
      (1L, Array(0.99f, 0.1f, 0.0f), 1), // ~cos 0.995 with 0, same label
      (2L, Array(0.0f, 1.0f, 0.0f), 1), // orthogonal
      (3L, Array(1.0f, 0.0f, 0.0f), 2) // same as 0 but different label (blocked away)
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingDupPairs(emb, threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(pairs == Set((0L, 1L)))
  }
}

class SimilaritySpec extends AnyFunSuite {
  private implicit lazy val spark: org.apache.spark.sql.SparkSession = SparkTestBase.spark
  import spark.implicits._

  // deterministic clustered embeddings in 16 dims: 5 cluster centers plus
  // small per-vector noise (the structure real embedding spaces have; LSH
  // recall is only meaningful when neighbors actually exist)
  private lazy val emb = (0L until 200L).map { i =>
    val label = (i % 5).toInt
    val v = Array.tabulate(16) { d =>
      val center = Dedup.mix64(label * 7919L + d).toDouble / Long.MaxValue
      val noise = Dedup.mix64(i * 131 + d).toDouble / Long.MaxValue * 0.15
      (center + noise).toFloat
    }
    (i, v, label)
  }.toDF("vec_id", "embedding", "label")

  test("brute-force top-k is exact (matches a local computation)") {
    val rows = emb.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val q0 = rows.find(_._1 == 0L).get._2
    val expected = rows.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(q0, v)) }
      .sortBy { case (id, c) => (-c, id) }
      .take(5).map(_._1).toSeq
    val got = Similarity.bruteForceTopK(emb, col("vec_id") === 0L, 5)
      .orderBy("rank").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(got == expected)
  }

  test("LSH top-k achieves decent recall vs brute force") {
    val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 20, 5)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val lsh = Similarity.lshTopK(emb, col("vec_id") < 20, 5, planes = 6)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall=$recall") // multi-probe sign-LSH, 6 planes
  }

  test("multi-table LSH reaches high recall where one table cannot") {
    val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 20, 5)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    // 6 tables x 3 planes: a true neighbor is missed only if it collides in
    // NO table, so recall decays exponentially in table count — the dial
    // the diffuse-corpus driver queries run with
    val lsh = Similarity.lshTopK(emb, col("vec_id") < 20, 5, planes = 3, nTables = 6)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall=$recall")
    // candidate dedup across tables: ranks stay unique per query
    val ranked = Similarity.lshTopK(emb, col("vec_id") < 20, 5, planes = 3, nTables = 6)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank")))
    assert(ranked.distinct.length == ranked.length)
  }

  test("IVF top-k achieves high recall vs brute force on clustered data") {
    val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 20, 5)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivfTopK(emb, col("vec_id") < 20, 5, nCentroids = 10, nProbe = 3)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("IVF at rest: cell-partitioned corpus prunes the scan to the probed cells") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-rest").toString
    // write the corpus cell-partitioned (the documented at-rest layout)
    Similarity.assignCells(emb, nCentroids = 10)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    val stored = spark.read.parquet(dir)

    // probe cells of one query under the SAME deterministic quantizer
    val probes = Similarity.probeCells(emb, col("vec_id") === 7L, nCentroids = 10, nProbe = 3)
      .select("cell").collect().map(_.getInt(0)).toSeq
    assert(probes.length == 3)

    // the filtered scan must touch ONLY the probed cells' files
    def filesRead(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(input_file_name()).distinct().collect().map(_.getString(0)).toSet
    val all = filesRead(stored)
    val pruned = filesRead(stored.filter(col("cell").isInCollection(probes)))
    assert(pruned.nonEmpty && pruned.size < all.size,
      s"expected partition pruning: read ${pruned.size}/${all.size} files")
    assert(pruned.forall(f => probes.exists(c => f.contains(s"cell=$c"))),
      s"read a non-probed partition: $pruned")

    // round-trip sanity: search over the stored corpus returns identical rows
    val orig = Similarity.ivfTopK(emb, col("vec_id") < 20, 5, nCentroids = 10, nProbe = 3)
      .collect().map(_.toString).sorted
    val back = Similarity.ivfTopK(stored.drop("cell"), col("vec_id") < 20, 5,
      nCentroids = 10, nProbe = 3).collect().map(_.toString).sorted
    assert(orig.sameElements(back))
  }

  test("trained IVF cells are balanced (no degenerate coarse quantizer)") {
    val e = Similarity.withNorm(emb)
    val centroids = Similarity.trainCentroids(e, nCentroids = 10)
    assert(centroids.length == 10)
    // assign every vector locally and check no cell absorbs the corpus
    val rows = e.collect().map(r => (r.getSeq[Double](1).toArray, r.getDouble(2)))
    val counts = new Array[Int](centroids.length)
    rows.foreach { case (v, _) =>
      var best = 0; var bestS = Double.MinValue
      centroids.indices.foreach { j =>
        val s = v.zip(centroids(j)).map { case (a, b) => a * b }.sum
        if (s > bestS) { bestS = s; best = j }
      }
      counts(best) += 1
    }
    val mean = rows.length.toDouble / centroids.length
    assert(counts.max <= 3 * mean,
      s"cell sizes too skewed: ${counts.toSeq} (mean $mean)")
    assert(counts.count(_ > 0) >= centroids.length / 2,
      s"too many dead cells: ${counts.toSeq}")
  }

  test("a zero-norm embedding takes part in no pair and no neighbour list") {
    // two all-zero vectors (an empty document's embedding) mixed into
    // diffuse ones: under ANSI division every cosine over them would raise
    // DIVIDE_BY_ZERO, so each operator must drop them before it divides
    val diffuse = (0L until 80L).map { i =>
      (i, Array.tabulate(8)(d => (Dedup.mix64(i * 131 + d).toDouble / Long.MaxValue).toFloat), 0)
    }
    val zeros = Seq(1000L, 1001L).map(i => (i, Array.fill(8)(0.0f), 0))
    val clean = diffuse.toDF("vec_id", "embedding", "label")
    val mixed = (diffuse ++ zeros).toDF("vec_id", "embedding", "label")
    val queries = col("vec_id") < 10 || col("vec_id") >= 1000
    val ops: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "embeddingDupPairs" -> (Dedup.embeddingDupPairs(_, threshold = 0.4)),
      "embeddingDupPairsLsh" -> (Dedup.embeddingDupPairsLsh(_, threshold = 0.5, planes = 2)),
      "bruteForceTopK" -> (Similarity.bruteForceTopK(_, queries, 5)),
      "lshTopK" -> (Similarity.lshTopK(_, queries, 5, planes = 3, nTables = 6)),
      "ivfTopK" -> (Similarity.ivfTopK(_, queries, 5, nCentroids = 4, nProbe = 2)))
    ops.foreach { case (name, op) =>
      val got = op(mixed).collect().map(_.toString).sorted
      assert(got.nonEmpty, s"$name: no output on the diffuse vectors")
      assert(got.sameElements(op(clean).collect().map(_.toString).sorted),
        s"$name: the zero vectors changed the output")
    }
  }

  test("cosineCol matches scalar cosine") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(3.0, 2.0, 1.0))).toDF("a", "b")
    val got = df.select(Similarity.cosineCol(col("a"), col("b"))).head.getDouble(0)
    val exp = (3.0 + 4.0 + 3.0) / (math.sqrt(14.0) * math.sqrt(14.0))
    assert(math.abs(got - exp) < 1e-12)
  }
}

class TextAnalysisSpec extends AnyFunSuite {
  private implicit lazy val spark: org.apache.spark.sql.SparkSession = SparkTestBase.spark
  import spark.implicits._

  test("markerCount counts padded occurrences") {
    val df = Seq((1L, "the cat and the dog and more")).toDF("doc_id", "text")
    val n = df.select(TextAnalysis.markerCount(col("text"), " the ").cast("long")).head.getLong(0)
    assert(n == 2) // leading 'the' counts via padding
    val m = df.select(TextAnalysis.markerCount(col("text"), " and ").cast("long")).head.getLong(0)
    assert(m == 2)
  }

  test("sourceReputation condemns bad hosts with evidence, spares small ones") {
    val goodTxt = Seq.fill(25)("the cat sat of and in a fine mat").mkString(" ")
    val badTxt = "1234 5678 90 12 3456"
    val docs =
      // goodhost: 25 good docs; badhost: 25 bad docs; tinyhost: 2 bad
      // docs; one doc with a NULL source (non-web ingest)
      (0L until 25L).map(i => (i, goodTxt, Some("goodhost"))) ++
        (25L until 50L).map(i => (i, badTxt, Some("badhost"))) ++
        Seq((50L, badTxt, Some("tinyhost")), (51L, badTxt, Some("tinyhost")),
          (52L, goodTxt, Option.empty[String]))
    val df = docs.toDF("doc_id", "text", "source")
    val rep = TextAnalysis.sourceReputation(df, minDocs = 20L, maxFlaggedFrac = 0.5)
      .collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_flagged"),
          r.getAs[Boolean]("keep_source")))).toMap
    assert(rep("goodhost") == ((25L, 0L, true)), rep.toString)
    assert(rep("badhost") == ((25L, 25L, false)), rep.toString)
    // below the evidence floor: kept despite 100% flagged
    assert(rep("tinyhost") == ((2L, 2L, true)), rep.toString)
    // doc-level application agrees with the per-source verdict; the
    // null-source doc matches its null reputation group (null-safe join),
    // not silently dropped
    val keep = TextAnalysis.sourceFilter(df, minDocs = 20L, maxFlaggedFrac = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    assert(keep.size == 53)
    assert(keep(0L) && !keep(30L) && keep(50L) && keep(52L))
  }

  test("tokenRarity: document-frequency rarity, exact integer sums, newline tokens") {
    val df = Seq(
      (0L, "the the the cat"), // 'the' x3 in doc + 1 elsewhere = c 4, df 2
      (1L, "the zzqx"), // zzqx is a hapax (df 1)
      (2L, ""), // empty text still emits a row
      (3L, "qqq qqq qqq"), // self-repeated junk: c 3 but df 1 -> STILL rare
      (4L, "xx\nyy") // newline separates tokens (no glued 'xx\nyy' hapax)
    ).toDF("doc_id", "text")
    val r = TextAnalysis.tokenRarity(df, rareMax = 1L).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_tokens"), x.getAs[Long]("rare_tokens"),
          x.getAs[Double]("rare_frac"), x.getAs[Double]("avg_count"))).toString).toMap
    // corpus term counts: the=4, cat=1, zzqx=1, qqq=3, xx=1, yy=1
    assert(r(0L) == ((4L, 1L, 0.25, (4 + 4 + 4 + 1) / 4.0)).toString, r.toString)
    assert(r(1L) == ((2L, 1L, 0.5, (4 + 1) / 2.0)).toString, r.toString)
    assert(r(2L) == ((0L, 0L, 0.0, 0.0)).toString, r.toString)
    // a term-count rarity (c <= 1) would report rare_tokens = 0 here
    assert(r(3L) == ((3L, 3L, 1.0, 3.0)).toString, r.toString)
    assert(r(4L) == ((2L, 2L, 1.0, 1.0)).toString, r.toString)
  }

  test("vocabStats reports vocabulary size, hapax mass, and top-k coverage") {
    val df = Seq(
      (0L, "a a a b b c"),
      (1L, "a d")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.vocabStats(df, k = 2).collect()
    assert(r.length == 1)
    val row = r.head
    // vocab {a:4, b:2, c:1, d:1}; top-2 = a+b = 6 of 8
    assert(row.getAs[Long]("vocab_size") == 4L)
    assert(row.getAs[Long]("hapax_tokens") == 2L)
    assert(row.getAs[Long]("total_tokens") == 8L)
    assert(row.getAs[Double]("top2_coverage") == 0.75)
  }

  test("tfidfKeywords ranks rare-but-frequent-in-doc terms first") {
    // 3 docs; 'common' appears in all (df 3), 'rare' only in doc 0 (df 1)
    val df = Seq(
      (0L, "common rare rare other"),
      (1L, "common common common common common x"), // stopword-heavy doc
      (2L, "common z z z")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.tfidfKeywords(df, k = 2).collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("rank"),
        x.getAs[String]("term"), x.getAs[Long]("tf"), x.getAs[Long]("df"),
        x.getAs[Long]("score")))
      .sortBy(c => (c._1, c._2))
    // binned idf with N=3: df 1 -> floor(log2 3)=1, df 3 -> 0. doc 0:
    // rare tf2 -> 2; other tf1 -> 1; the corpus-universal 'common' -> 0
    assert(r.filter(_._1 == 0L).toSeq ==
      Seq((0L, 1L, "rare", 2L, 1L, 2L), (0L, 2L, "other", 1L, 1L, 1L)))
    // doc 2: z tf3 df1 -> 3 beats common's 0
    assert(r.filter(_._1 == 2L).head == ((2L, 1L, "z", 3L, 1L, 3L)))
    // the stopword trap a raw tf*N/df score falls into: 'common' at tf 5
    // (score 5*3/3 = 5 raw) must NOT outrank the df-1 keyword 'x'
    assert(r.filter(_._1 == 1L).head._3 == "x", r.filter(_._1 == 1L).toSeq)
    // every doc got exactly k=2 rows (each has >= 2 distinct terms)
    assert(r.groupBy(_._1).forall(_._2.size == 2))
  }

  test("tfidfKeywords equal-bin ties go to the repeated term, not the alphabet") {
    // df(berlin)=2 of N=3 -> bin 0, same as corpus-universal 'aa' — the
    // tf-desc secondary key must rank repeated 'berlin' over single 'aa'
    val df = Seq(
      (0L, "berlin berlin berlin aa"),
      (1L, "berlin aa"),
      (2L, "aa")
    ).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfKeywords(df, k = 1).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[String]("term"), x.getAs[Long]("score")))).toMap
    assert(top(0L) == (("berlin", 0L)), top.toString)
  }

  test("chunkTokens: overlapping windows cover every token, short tail kept") {
    val df = Seq(
      (0L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (1L, "a b"), // shorter than one window
      (2L, "") // no chunks for empty text
    ).toDF("doc_id", "text")
    val r = TextAnalysis.chunkTokens(df, size = 4, stride = 3).collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("chunk_id"),
        x.getAs[Long]("n_chunk_tokens"), x.getAs[String]("chunk_text")))
      .sortBy(c => (c._1, c._2))
    // doc 0: candidate starts 1,4,7,10 -> start 10 is DROPPED (chunk
    // "t10" would be a strict subset of "t7 t8 t9 t10")
    assert(r.count(_._1 == 0L) == 3)
    assert(r(0) == ((0L, 0L, 4L, "t1 t2 t3 t4")))
    assert(r(1) == ((0L, 1L, 4L, "t4 t5 t6 t7")))
    assert(r(2) == ((0L, 2L, 4L, "t7 t8 t9 t10")))
    assert(r.filter(_._1 == 1L).toSeq == Seq((1L, 0L, 2L, "a b")))
    assert(!r.exists(_._1 == 2L))
    // coverage: every token of doc 0 appears in at least one chunk
    val covered = r.filter(_._1 == 0L).flatMap(_._4.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)
  }

  test("chunkTokens invariants hold across sizes, strides, and lengths") {
    // sweep: for each (size, stride) config, docs of every length 1..25
    // in ONE job; assert full coverage, no subset chunks, contiguous ids
    for ((size, stride) <- Seq((4, 3), (5, 5), (3, 1), (6, 4))) {
      val docs = (1 to 25).map(n =>
        (n.toLong, (1 to n).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
      val chunks = TextAnalysis.chunkTokens(docs, size = size, stride = stride)
        .collect()
        .map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("chunk_id"),
          x.getAs[String]("chunk_text").split(" ").toSeq))
        .groupBy(_._1)
      for (n <- 1 to 25) {
        val cs = chunks(n.toLong).sortBy(_._2).map(_._3)
        val clue = s"size=$size stride=$stride n=$n chunks=$cs"
        // every token appears in at least one chunk
        assert(cs.flatten.toSet == (1 to n).map(i => s"w$i").toSet, clue)
        // no chunk is a subset of its predecessor
        cs.sliding(2).filter(_.length == 2).foreach { pair =>
          assert(!pair(1).toSet.subsetOf(pair(0).toSet), clue)
        }
        // ids are 0..k-1 and every chunk is at most `size` tokens
        assert(chunks(n.toLong).map(_._2).sorted.toSeq ==
          (0L until cs.length.toLong), clue)
        assert(cs.forall(_.length <= size), clue)
      }
    }
  }

  test("c4LineFilter keeps terminal-punctuated >=5-word lines and gates docs") {
    val good = (1 to 4).map(i => s"this line number $i has enough words to survive.").mkString("\n")
    val df = Seq(
      (1L, good), // 4 kept lines -> keep
      (2L, good + "\nshort line.\nno terminal punctuation here at all five"), // extras dropped
      (3L, good + "\nsome javascript heavy line with enough words here."), // js dropped
      (4L, good.replace("words", "{words")), // curly brace -> doc dropped
      (5L, good + "\nLorem Ipsum dolor sit amet consectetur adipiscing elit."), // lorem -> dropped
      (6L, "one kept line with five words here.\nanother kept line with words here."), // only 2 kept
      (7L, null.asInstanceOf[String]),
      (8L, good.replace("\n", " \r\n")) // CRLF + trailing space: rtrim incl \r
    ).toDF("doc_id", "text")
    val r = TextAnalysis.c4LineFilter(df).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Int]("kept_lines"), x.getAs[Boolean]("keep"), x.getAs[String]("clean_text")))).toMap
    assert(r(1L) == ((4, true, good)))
    assert(r(2L)._1 == 4 && r(2L)._2)
    assert(r(3L)._1 == 4 && r(3L)._2) // js line dropped, rest keeps the doc
    assert(!r(4L)._2 && r(4L)._3 == "")
    assert(!r(5L)._2)
    assert(r(6L) == ((2, false, "")))
    assert(r(7L) == ((0, false, "")))
    assert(r(8L)._1 == 4 && r(8L)._2, r(8L).toString)
  }

  test("piiScrub counts and masks in email -> phone -> ip order") {
    val df = Seq(
      (1L, "mail a@b.com and c.d@e.org, call 555-123-4567, host 10.0.0.1"),
      (2L, "no pii at all"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val r = TextAnalysis.piiScrub(df).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Int]("emails"), x.getAs[Int]("phones"), x.getAs[Int]("ips")))).toMap
    assert(r(1L) == ((2, 1, 1)))
    assert(r(2L) == ((0, 0, 0)))
    assert(r(3L) == ((0, 0, 0)))
    // ORDER-sensitive case: the numeric local part is one email when email
    // masks first; an ip-first pipeline would report (1 email, 1 ip). This
    // pins the documented email -> phone -> ip order in-unit, not just via
    // the oracle's scrubbed_md5.
    val ordered = Seq((9L, "192.168.1.1@example.com")).toDF("doc_id", "text")
    val o = TextAnalysis.piiScrub(ordered).collect().head
    assert((o.getAs[Int]("emails"), o.getAs[Int]("phones"), o.getAs[Int]("ips")) == ((1, 0, 0)))
  }

  test("langId predicts by marker majority with deterministic ties") {
    val df = Seq(
      (1L, "xx", "the cat and the dog of the house is here"),
      (2L, "xx", "der hund und die katze und das haus"),
      (3L, "xx", "no markers whatsoever")).toDF("doc_id", "lang", "text")
    val r = TextAnalysis.langId(df).collect().map(x =>
      x.getAs[Long]("doc_id") -> x.getAs[String]("predicted_lang")).toMap
    assert(r(1L) == "en")
    assert(r(2L) == "de")
    assert(r(3L) == "und")
  }

  test("quality score components and flag") {
    val df = Seq(
      (1L, ("the word and more of " * 30).trim), // long, stopword-rich
      (2L, "1 2 3 4 5 6 7 8 9 0")).toDF("doc_id", "text") // digits only
    val r = TextAnalysis.qualityScore(df).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Double]("quality_score") > r(2L).getAs[Double]("quality_score"))
    assert(r(2L).getAs[Boolean]("flagged"))
    assert(r(1L).getAs[Long]("n_tokens") == 150)
  }

  test("url canonicalization rules") {
    import graft.ops.TextAnalysis.canonicalizeUrl
    val cases = Seq(
      // lowercase scheme+authority only; default port; tracking param; fragment
      "HTTP://Host.COM:80/A/B/?utm_source=x&Id=2#frag" -> "http://host.com/A/B/?Id=2",
      // https default port + root-ish trailing slash
      "https://X.org:443/" -> "https://x.org",
      // tracking-only query collapses entirely; then trailing slash strips
      "https://a.b/p/?utm_only=1" -> "https://a.b/p",
      // mid-query tracking param removal keeps the separator shape
      "http://h/p?id=1&gclid=g&x=2" -> "http://h/p?id=1&x=2",
      // non-default port is kept; path case is preserved
      "https://Host.net:8443/Mixed/Case" -> "https://host.net:8443/Mixed/Case",
      // fbclid-prefixed OTHER params are kept (exact name match only)
      "http://h/p?fbclidX=1" -> "http://h/p?fbclidX=1"
    )
    val df3 = cases.map(_._1).zipWithIndex.map { case (u, i) => (i, u) }.toDF("i", "u")
    val got = df3.select(col("i"), canonicalizeUrl(col("u")).as("c"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((in, want), i) =>
      assert(got(i) == want, s"$in -> ${got(i)} (want $want)")
    }
  }

  test("fingerprint is case/whitespace normalized") {
    val df = Seq((1L, "  Hello World "), (2L, "hello world")).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprint(df).collect().map(_.getAs[String]("fingerprint"))
    assert(fp(0) == fp(1))
  }

  test("repetition stats: duplicate lines and top-bigram dominance, hand-computed") {
    val df = Seq(
      // 4 non-empty lines, "same line" twice (dup frac 2/4; dup chars
      // 18/28); 8 tokens, top bigram "same line" x2 -> frac 2*2/8
      (0L, "same line\nsame line\nab cd\nef gh"),
      (1L, "all distinct lines\nhere now"), // no dups, top bigram count 1
      (2L, "one"), // single token, no bigram -> frac 0.0
      (3L, "\n\n") // no non-empty line: row must SURVIVE with zeros
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionStats(df).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r.size == 4, "every doc emits a row, even with no non-empty lines")
    assert(r(3L).getAs[Long]("n_lines") == 0 && r(3L).getAs[Double]("dup_line_frac") == 0.0)
    assert(r(0L).getAs[Long]("n_lines") == 4)
    assert(r(0L).getAs[Double]("dup_line_frac") == 0.5)
    assert(r(0L).getAs[Double]("dup_line_char_frac") == math.rint(18.0 / 28.0 * 10000) / 10000)
    assert(r(0L).getAs[Double]("top_bigram_frac") == math.rint(4.0 / 8.0 * 10000) / 10000)
    assert(r(1L).getAs[Double]("dup_line_frac") == 0.0)
    assert(r(1L).getAs[Double]("top_bigram_frac") == round4(2.0 / 5.0))
    assert(r(2L).getAs[Double]("top_bigram_frac") == 0.0)
  }

  private def round4(x: Double) = math.rint(x * 10000) / 10000

  test("gopher rules: published thresholds fire on the right violations") {
    val good = ("the be to of and that have with " + ("alpha beta gamma delta " * 20)).trim
    val df = Seq(
      (0L, good), // passes everything
      (1L, "too short of a doc"), // word-count rule
      (2L, ("#### " * 40 + "the be of and words here " * 10).trim), // symbol ratio
      (3L, (1 to 80).map(i => s"- bullet $i").mkString("\n")) // bullet lines
    ).toDF("doc_id", "text")
    val r = TextAnalysis.gopherRules(df).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(0L).getAs[Boolean]("keep"), s"good doc must pass: ${r(0L)}")
    assert(!r(1L).getAs[Boolean]("r_word_count") && !r(1L).getAs[Boolean]("keep"))
    // null text: keep must be a definite false, not a null that a
    // filter(keep) would silently drop
    import org.apache.spark.sql.types._
    val nullDoc = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(9L, null: String)),
      StructType(Seq(StructField("doc_id", LongType, false),
        StructField("text", StringType, true))))
    val nr = TextAnalysis.gopherRules(nullDoc).collect()(0)
    assert(!nr.isNullAt(nr.fieldIndex("keep")) && !nr.getAs[Boolean]("keep"))
    assert(!r(2L).getAs[Boolean]("r_symbol_ratio") && !r(2L).getAs[Boolean]("keep"))
    assert(!r(3L).getAs[Boolean]("r_bullet_lines") && !r(3L).getAs[Boolean]("keep"))
  }

  test("distributed top-k tokens: TakeOrderedAndProject plan, agrees with the Aggregator") {
    val df = (0 until 50).map { i =>
      // 'alpha' in every doc, 'beta' in even docs, unique tail tokens
      (i.toLong, s"alpha ${if (i % 2 == 0) "beta" else s"odd$i"} tail$i")
    }.toDF("doc_id", "text")
    val dist = TextAnalysis.topKTokensDistributed(df, k = 5)
    val r = dist.collect().map(x =>
      (x.getAs[Int]("rank"), x.getAs[String]("token"), x.getAs[Long]("cnt")))
    assert(r.take(2).toSeq == Seq((1, "alpha", 50L), (2, "beta", 25L)))
    assert(r.length == 5)
    // rank 3..5 are the lexicographically-first count-1 tokens (tie-break)
    assert(r(2)._2 < r(3)._2 && r(3)._2 < r(4)._2 && r(2)._3 == 1L)
    // the global top-k must be a distributed TakeOrderedAndProject (each
    // partition ships only its own top k), never a single vocab-sized merge
    assert(dist.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    assert(dist.queryExecution.executedPlan.toString.contains("partial_count"))
    // the bounded-vocab Aggregator must agree on the same corpus
    val topk = org.apache.spark.sql.functions.udaf(new Aggregators.TopKTokens(5))
    val agg = df.agg(topk(col("text")).as("top"))
      .select(posexplode(col("top")).as(Seq("rank0", "tc")))
      .select((col("rank0") + 1).cast("int").as("rank"),
        col("tc.token").as("token"), col("tc.cnt").as("cnt"))
      .collect().map(x => (x.getInt(0), x.getString(1), x.getLong(2)))
    assert(agg.toSeq == r.toSeq)
  }
}

class MultimodalSpec extends AnyFunSuite {
  private implicit lazy val spark: org.apache.spark.sql.SparkSession = SparkTestBase.spark
  import spark.implicits._

  test("header parser: byte-level golden fixtures at fixed offsets") {
    // PNG: signature + IHDR(len=13) with width=0x0102=258, height=0x30=48
    val png = Array[Int](
      0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a, // signature
      0, 0, 0, 13, 'I', 'H', 'D', 'R', // IHDR chunk header
      0, 0, 1, 2, // width  (BE)
      0, 0, 0, 48, // height (BE)
      8, 2, 0, 0, 0 // bit depth, color type, ...
    ).map(_.toByte)
    assert(Multimodal.parseDims(png) == ("png", 258, 48))
    // GIF89a: logical screen 320x200 little-endian
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array[Int](0x40, 0x01, 0xc8, 0x00, 0, 0, 0, 0).map(_.toByte)
    assert(Multimodal.parseDims(gif) == ("gif", 320, 200))
    // BMP: BITMAPINFOHEADER (size 40) with width=100, height=-50 (top-down)
    val bmp = new Array[Byte](30)
    bmp(0) = 'B'; bmp(1) = 'M'
    bmp(14) = 40 // header size LE
    bmp(18) = 100 // width LE
    bmp(22) = (-50 & 0xff).toByte; bmp(23) = 0xff.toByte
    bmp(24) = 0xff.toByte; bmp(25) = 0xff.toByte // height = -50 LE
    assert(Multimodal.parseDims(bmp) == ("bmp", 100, 50))
    // JPEG: SOI, APP0 (skipped via its length), SOF0 with h=0x0120 w=0x0208
    val jpg = Array[Int](
      0xff, 0xd8, // SOI
      0xff, 0xe0, 0x00, 0x04, 0x4a, 0x46, // APP0, len 4
      0xff, 0xc0, 0x00, 0x0b, 8, // SOF0, len 11, precision
      0x01, 0x20, // height 288
      0x02, 0x08, // width 520
      1, 0x11, 0 // one component
    ).map(_.toByte)
    assert(Multimodal.parseDims(jpg) == ("jpeg", 520, 288))
    // progressive marker SOF2 parses the same way
    jpg(9) = 0xc2.toByte
    assert(Multimodal.parseDims(jpg) == ("jpeg", 520, 288))
  }

  test("header parser: truncated/malformed headers keep the format, zero dims") {
    val pngSigOnly = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    assert(Multimodal.parseDims(pngSigOnly) == ("png", 0, 0))
    // PNG whose first chunk is not IHDR
    val badChunk = pngSigOnly ++ Array[Int](0, 0, 0, 13, 'X', 'X', 'X', 'X',
      0, 0, 1, 2, 0, 0, 0, 48).map(_.toByte)
    assert(Multimodal.parseDims(badChunk) == ("png", 0, 0))
    // JPEG with no frame header before EOI
    val noSof = Array[Int](0xff, 0xd8, 0xff, 0xd9).map(_.toByte)
    assert(Multimodal.parseDims(noSof) == ("jpeg", 0, 0))
    // DHT (0xc4) must NOT be mistaken for a frame header
    val dhtOnly = Array[Int](0xff, 0xd8, 0xff, 0xc4, 0x00, 0x04, 1, 2, 0xff, 0xd9).map(_.toByte)
    assert(Multimodal.parseDims(dhtOnly) == ("jpeg", 0, 0))
    assert(Multimodal.parseDims("GIF8".getBytes("US-ASCII")) == ("unknown", 0, 0))
    assert(Multimodal.parseDims(Array[Byte](0, 1, 2, 3)) == ("unknown", 0, 0))
    assert(Multimodal.parseDims(null) == ("empty", 0, 0))
    assert(Multimodal.parseDims(Array.empty[Byte]) == ("empty", 0, 0))
  }

  test("ImageIO round trip: parser recovers planted dims from real encoder bytes") {
    // ids cover png/jpeg/gif/bmp plus the garbage and empty classes
    for (id <- 0L until 24L) {
      val bytes = graft.corpus.CorpusGen.mediaPayload(id)
      val (fmt, w, h) = Multimodal.parseDims(bytes)
      graft.corpus.CorpusGen.mediaFormatIdx(id) match {
        case fi if fi <= 3 =>
          assert(fmt == Seq("png", "jpeg", "gif", "bmp")(fi), s"id=$id")
          assert(w == graft.corpus.CorpusGen.mediaWidth(id), s"id=$id width")
          assert(h == graft.corpus.CorpusGen.mediaHeight(id), s"id=$id height")
          // independent cross-check: the JDK's own decoder agrees
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          assert(img.getWidth == w && img.getHeight == h, s"id=$id imageio")
        case 4 => assert(fmt == "unknown" && w == 0 && h == 0, s"id=$id")
        case _ => assert(fmt == "empty" && w == 0 && h == 0, s"id=$id")
      }
    }
  }

  test("imageMeta frame: typed decode over the media frame, hash plumbing intact") {
    val ids = spark.range(0, 12).as[Long]
    val media = graft.corpus.CorpusGen.mediaFrame(ids)
    val r = Multimodal.imageMeta(media).collect()
      .map(x => x.getAs[Long]("content_id") -> x).toMap
    assert(r.size == 12)
    for (id <- 0L until 12L) {
      val fi = graft.corpus.CorpusGen.mediaFormatIdx(id)
      val expFmt = Seq("png", "jpeg", "gif", "bmp", "unknown", "empty")(fi)
      assert(r(id).getAs[String]("format") == expFmt, s"id=$id")
      if (fi <= 3) {
        assert(r(id).getAs[Int]("width") == graft.corpus.CorpusGen.mediaWidth(id))
        assert(r(id).getAs[Int]("height") == graft.corpus.CorpusGen.mediaHeight(id))
      }
      assert(r(id).getAs[Int]("n_bytes") == graft.corpus.CorpusGen.mediaPayload(id).length)
    }
    // content hash remains the md5 of the exact payload bytes
    val md = java.security.MessageDigest.getInstance("MD5")
    val exp = md.digest(graft.corpus.CorpusGen.mediaPayload(0L))
      .map("%02x".format(_)).mkString
    assert(r(0L).getAs[String]("content_hash") == exp)
  }

  test("frame sampling emits one row per stride slice") {
    val media = Seq((1L, Array.fill[Byte](200)(7))).toDF("content_id", "payload")
    val frames = Multimodal.sampleFrames(media, stride = 64).collect()
    assert(frames.length == 4) // offsets 0, 64, 128, 192
    assert(frames.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 1, 2, 3))
    assert(frames.head.getAs[Long]("frame_checksum") == 16 * 7)
  }
}
