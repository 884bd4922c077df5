package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`embeddings(vec_id, embedding array<float>, label)`).
  *
  * Brute-force cosine top-k is the correctness baseline (broadcast the query
  * set, never the corpus); the LSH-bucketed variant is the scale path: at
  * 10^12 vectors the corpus-side scan partitions by bucket and each query
  * probes its own bucket only, turning a full scan into a pruned one.
  */
object Similarity {

  /** Dot product as a codegen'd Column expression: zip_with product +
    * aggregate sum, double precision, sequential fold (deterministic — no
    * UDF, stays inside whole-stage codegen).
    */
  def dotCol(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity from scratch (norms recomputed per call). Prefer the
    * norm-precomputed form in joins — `dot/(norm_a*norm_b)` with per-row
    * norm columns is bit-identical (sqrt(dot(v,v)) is the same double
    * whether computed per row or per pair) at a third of the work.
    */
  def cosineCol(a: Column, b: Column): Column =
    dotCol(a, b) / (sqrt(dotCol(a, a)) * sqrt(dotCol(b, b)))

  /** vec_id, v (double array), norm — the join-ready projection. A vector
    * of norm 0 has no cosine (and ANSI division by its norm fails the
    * query), so it is dropped here: it takes part in no pair and no
    * neighbour list of any operator built on this projection.
    */
  private[ops] def withNorm(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dotCol(col("v"), col("v"))))
      .filter(col("norm") > 0.0)

  /** Brute-force top-k: queries (small) are broadcast against the corpus;
    * norms precomputed per row (never per pair); ranking is a per-query
    * window. Ties break on vec_id for determinism.
    */
  def bruteForceTopK(embeddings: DataFrame, queryFilter: Column, k: Int): DataFrame = {
    val e = withNorm(embeddings)
    val queries = e.filter(queryFilter)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("norm").as("q_norm"))
    val scored = e
      .join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("cos", dotCol(col("q_v"), col("v")) / (col("q_norm") * col("norm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Deterministic random hyperplanes for sign-LSH: plane p, dim d comes
    * from a counter hash mapped to (-1, 1).
    */
  def hyperplane(seed: Long, plane: Int, dim: Int): Double = {
    val h = Dedup.mix64(seed ^ (plane.toLong << 32) ^ dim.toLong)
    (h.toDouble / Long.MaxValue.toDouble) // in [-1, 1]
  }

  /** Deterministic spherical k-means coarse quantizer for [[ivfTopK]]:
    * trained on a hash-ordered driver-side sample (`nCentroids x
    * sampleFactor` vectors — the sample order is xxhash64(vec_id), so the
    * result is independent of physical partitioning), greedy farthest-point
    * init (deterministic k-means++ analogue: well-spread seeds, ties to the
    * lower sample index), a fixed number of Lloyd iterations with cosine
    * assignment, empty cells keeping their previous centroid. Returns unit
    * vectors. `e` is a [[withNorm]] projection: every norm is positive.
    */
  private[ops] def trainCentroids(
      e: DataFrame,
      nCentroids: Int,
      sampleFactor: Int = 50,
      iters: Int = 8
  ): Array[Array[Double]] = {
    val sample: Array[Array[Double]] = e
      .select(col("vec_id"), col("v"), col("norm"))
      .orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
      .limit(math.max(nCentroids, nCentroids * sampleFactor))
      .collect()
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        val n = r.getDouble(2)
        v.map(_ / n)
      }
    require(sample.nonEmpty, "ivfTopK: no non-zero vectors to train on")
    val dim = sample(0).length
    val k = math.min(nCentroids, sample.length)

    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var d = 0
      while (d < dim) { s += a(d) * b(d); d += 1 }
      s
    }
    // farthest-point init: maximize the minimum angular distance to the
    // already-chosen seeds (deterministic; ties -> lower index)
    val seeds = new Array[Array[Double]](k)
    seeds(0) = sample(0)
    val minSim = sample.map(p => dot(p, seeds(0)))
    var c = 1
    while (c < k) {
      var best = -1; var bestSim = Double.MaxValue
      var i = 0
      while (i < sample.length) {
        if (minSim(i) < bestSim) { bestSim = minSim(i); best = i }
        i += 1
      }
      seeds(c) = sample(best)
      i = 0
      while (i < sample.length) {
        val s = dot(sample(i), seeds(c))
        if (s > minSim(i)) minSim(i) = s
        i += 1
      }
      c += 1
    }
    // Lloyd iterations (spherical: renormalized mean)
    var centroids = seeds
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { p =>
        var bestC = 0; var bestS = Double.MinValue
        var j = 0
        while (j < k) {
          val s = dot(p, centroids(j))
          if (s > bestS) { bestS = s; bestC = j }
          j += 1
        }
        val su = sums(bestC)
        var d = 0
        while (d < dim) { su(d) += p(d); d += 1 }
        counts(bestC) += 1
      }
      centroids = Array.tabulate(k) { j =>
        if (counts(j) == 0) centroids(j)
        else {
          val m = sums(j)
          val n = math.sqrt(dot(m, m))
          if (n == 0.0) centroids(j) else m.map(_ / n)
        }
      }
      it += 1
    }
    centroids
  }

  /** IVF (inverted-file) ANN with a TRAINED deterministic coarse quantizer
    * ([[trainCentroids]]: driver-side sampled spherical k-means) — assigns
    * every corpus vector to its nearest cell once; each query probes its
    * `nProbe` nearest cells. At scale the corpus is written cell-partitioned
    * so a query reads nProbe partitions instead of scanning the corpus; here
    * the cell id is the join key.
    *
    * Cell lookup is the native `ivf_cells` codegen expression
    * ([[graft.expressions.IvfCellsExpr]]): the centroid matrix (unit
    * vectors — argmax dot == argmax cosine) rides in the plan, and
    * candidate generation has NO udf/closure boundary anywhere. Ordering is
    * bit-identical to the closure formulation this replaces (descending
    * dot, ties to the lower cell id).
    */
  private def trainedCentroids(e: DataFrame, nCentroids: Int): Seq[Seq[Double]] =
    trainCentroids(e, nCentroids).map(_.toSeq).toSeq

  /** The corpus with its IVF cell id appended (original columns + `cell`) —
    * the AT-REST layout hook: write this `partitionBy("cell")` and a query
    * scan filtered to its probe cells prunes to nProbe partitions through
    * partition pruning instead of scanning the corpus (tested on file
    * counts). The quantizer ([[trainCentroids]]) is deterministic and
    * partitioning-independent, so cells assigned at write time agree with
    * probe lists computed by later sessions over the same corpus.
    */
  def assignCells(embeddings: DataFrame, nCentroids: Int = 16)(
      implicit spark: SparkSession): DataFrame =
    assignCellsWith(embeddings, col("embedding").cast("array<double>"),
      trainedCentroids(withNorm(embeddings), nCentroids))

  /** `df` with the cell of its vector column `v` appended as `cell`. */
  private def assignCellsWith(df: DataFrame, v: Column, centroids: Seq[Seq[Double]]): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    df.withColumn("cell",
      element_at(graft.expressions.GraftFunctions.ivfCells(v, centroids, 1), 1))
  }

  /** One row per (query, probed cell): the `nProbe` cells nearest each
    * query vector under the same deterministic quantizer as [[assignCells]].
    */
  def probeCells(
      embeddings: DataFrame,
      queryFilter: Column,
      nCentroids: Int = 16,
      nProbe: Int = 4
  )(implicit spark: SparkSession): DataFrame = {
    val e = withNorm(embeddings)
    probeCellsWith(e, queryFilter, trainedCentroids(e, nCentroids), nProbe)
  }

  private def probeCellsWith(
      e: DataFrame,
      queryFilter: Column,
      centroids: Seq[Seq[Double]],
      nProbe: Int): DataFrame = {
    graft.expressions.GraftFunctions.register(e.sparkSession)
    e.filter(queryFilter)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("norm").as("q_norm"),
        explode(
          graft.expressions.GraftFunctions.ivfCells(col("v"), centroids, nProbe)).as("cell"))
  }

  def ivfTopK(
      embeddings: DataFrame,
      queryFilter: Column,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4
  )(implicit spark: SparkSession): DataFrame = {
    val e = withNorm(embeddings)
    // the quantizer is trained ONCE per call and shared by the corpus cell
    // assignment and the query probe lists (training is deterministic, so
    // separate assignCells/probeCells calls agree too — they just pay a
    // second training)
    val cents = trainedCentroids(e, nCentroids)
    val corpus = assignCellsWith(e, col("v"), cents)
    val queries = probeCellsWith(e, queryFilter, cents, nProbe)
    val scored = corpus
      .join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", dotCol(col("q_v"), col("v")) / (col("q_norm") * col("norm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Sign-LSH bucket id: `planes` hyperplane sign bits. */
  def lshBucket(v: Array[Double], seed: Long, planes: Int): Int = {
    var bucket = 0
    var p = 0
    while (p < planes) {
      var dotv = 0.0
      var d = 0
      while (d < v.length) { dotv += v(d) * hyperplane(seed, p, d); d += 1 }
      if (dotv > 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }

  /** LSH-bucketed ANN: corpus is bucketed once per table by sign-LSH; each
    * query searches its own bucket plus all hamming-1 neighbor buckets in
    * every table (multi-probe — recovers most of the recall the hard
    * partition loses). The bucket join replaces the brute-force cross
    * product; at scale the corpus side would be written bucket-partitioned
    * (per table) so a query probes `nTables * (1 + planes)` partitions
    * instead of scanning everything.
    *
    * `nTables` is the standard LSH recall/memory dial: a true neighbor is
    * missed only if it collides in NO table, so the miss probability decays
    * exponentially in the table count while the index footprint grows
    * linearly. On diffuse embeddings (neighbors at cos ~0.5, the hardest
    * case) one 8-plane table measures ~0.2 recall@5 on the driver tables;
    * 6 tables of 3 planes measure ≥0.9 at both sf0.01 and sf0.1 (see
    * `tools.AnnRecallProbe`). Candidates found by several tables are
    * deduplicated before scoring, so each (query, candidate) pair pays the
    * exact-cosine verify once.
    */
  def lshTopK(
      embeddings: DataFrame,
      queryFilter: Column,
      k: Int,
      planes: Int = 8,
      seed: Long = 7L,
      nTables: Int = 1
  )(implicit spark: SparkSession): DataFrame = {
    require(nTables >= 1, s"nTables must be >= 1, got $nTables")
    // native codegen bucketing (graft.expressions.SignLsh*): the packed
    // (table << 32 | bucket) long IS the join key — no unpack needed, and
    // candidate generation has NO udf/closure boundary anywhere
    // (registered into the frame's OWN session, not the implicit one, so
    // newSession()/multi-threaded callers resolve the functions)
    graft.expressions.GraftFunctions.register(embeddings.sparkSession)
    import graft.expressions.GraftFunctions.{signLshPacked, signLshProbes}
    val base = withNorm(embeddings)
    val e = base
      .withColumn("tb", explode(signLshPacked(col("v"), seed, planes, nTables)))
    // queries derive from the PRE-explode frame: one probe evaluation per
    // query row, whose output (table, bucket) entries are distinct by
    // construction (tables distinct; within a table the center and its
    // hamming-1 neighbors are distinct), so no probe-side dedup is needed
    val queries = base
      .filter(queryFilter)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("norm").as("q_norm"),
        explode(signLshProbes(col("v"), seed, planes, nTables)).as("tb"))
    val candidates = e
      .join(broadcast(queries), Seq("tb"))
      .filter(col("vec_id") =!= col("q_id"))
      .dropDuplicates("q_id", "vec_id")
    val scored = candidates
      .withColumn("cos", dotCol(col("q_v"), col("v")) / (col("q_norm") * col("norm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }
}
