package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StructField, StructType}

/** Corpus-scale deduplication operators over a `documents(doc_id, text, ...)`
  * table — the operations a training-data pipeline layers on top of
  * extraction. All are shuffle-conscious: exact dedup is one hash
  * aggregation; the near-dup family works on (key, doc_id) postings so the
  * only quadratic step is within an LSH bucket / shared-shingle group,
  * never across the corpus.
  *
  * Algorithms are the published classics: MinHash resemblance sketching
  * (Broder, "On the resemblance and containment of documents", 1997) with
  * banded LSH (Indyk/Motwani-style), SimHash (Charikar, "Similarity
  * estimation techniques from rounding algorithms", 2002) with the
  * block-permutation hamming search of Manku/Jain/Das Sarma ("Detecting
  * near-duplicates for web crawling", WWW 2007).
  */
object Dedup {

  // ---------- deterministic hashing (pure Scala, partitioning-invariant) ----

  /** splitmix64 finalizer (graft.util.Hashing) used for shingle/minhash
    * streams.
    */
  def mix64(z0: Long): Long = graft.util.Hashing.mix64(z0)

  /** 64-bit FNV-1a over UTF-8 bytes, then mixed: the base shingle hash. */
  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L
      i += 1
    }
    mix64(h)
  }

  /** Word n-gram shingle hashes, distinct, sorted (sorted so signatures and
    * set ops are order-canonical).
    */
  def shingleHashes(text: String, n: Int): Array[Long] = {
    val tokens = text.split(" ", -1)
    if (tokens.length < n) {
      // one whole-text shingle, INCLUDING empty text: the SQL-oracle
      // equivalent string_split('') yields [''], so '' must hash too
      Array(hash64(text))
    } else {
      val set = scala.collection.mutable.SortedSet.empty[Long]
      var i = 0
      while (i + n <= tokens.length) {
        set += hash64(tokens.slice(i, i + n).mkString(" "))
        i += 1
      }
      set.toArray
    }
  }

  /** MinHash signature: numHashes permutations approximated by
    * mix64(shingle ^ seed_i) minima (one pass over the shingles).
    */
  def minhashSignature(shingles: Array[Long], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      val s = shingles(i)
      var h = 0
      while (h < numHashes) {
        val v = mix64(s ^ (0x9e3779b97f4a7c15L * (h + 1)))
        if (v < sig(h)) sig(h) = v
        h += 1
      }
      i += 1
    }
    sig
  }

  /** 64-bit SimHash over whitespace tokens (sign of per-bit weighted sums). */
  def simhash64(text: String): Long = {
    val counts = new Array[Int](64)
    text.split(" ", -1).foreach { t =>
      if (t.nonEmpty) {
        val h = hash64(t)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  // ---------- DataFrame operators -------------------------------------------

  /** Exact-dup grouping key: md5 of the text with a non-colliding sentinel
    * for null text (not 32 hex chars, so it can never equal a real md5).
    * Null text would otherwise hash to null and an inner equi-join would
    * silently DROP those rows (null keys never match); the sentinel groups
    * them like the SQL oracle's window formulation does. ONE definition,
    * shared by [[markDuplicates]], [[markDuplicatesIds]] and
    * [[Pipeline.prepare]] — their mutual equivalence (and the
    * q_pipeline_compose oracle) depends on all three using the identical
    * key.
    */
  def textHashKey(textCol: Column): Column =
    coalesce(md5(textCol), lit("null-text"))

  /** Exact dedup: one hash aggregation on md5(text). Survivor = min doc_id.
    * At 10^12 rows this is a single shuffle on a 16-byte key with partial
    * aggregation — the cheapest possible formulation.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("dup_count"), min(col("doc_id")).as("keep_id"))

  /** Annotate every row with its exact-dup canonical id (min id over the
    * md5(text) group) and a duplicate flag — the form a training-data
    * pipeline consumes (filter `!is_duplicate` keeps one survivor per
    * content hash).
    *
    * Skew-immune formulation: the canonical id is a partial-aggregated
    * `groupBy(hash).min(id)` joined back, NOT a window. A window partition
    * is processed by ONE task, so a mass-duplicate content hash (10^7+
    * copies of a boilerplate page at web scale) would pin its entire
    * posting list on a single spilling task; under partial aggregation the
    * hot hash shrinks to one row per map task before the shuffle, and the
    * join-back's hot probe partition is AQE-skew-splittable (the build side
    * is one row per hash, so duplicating it across splits is free).
    */
  def markDuplicates(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // null-text sentinel semantics: see [[textHashKey]]
    val hashed = docs.withColumn("__text_hash", textHashKey(col(textCol)))
    val canon = hashed
      .groupBy(col("__text_hash"))
      .agg(min(col(idCol)).as("canonical_id"))
    hashed
      .join(canon, Seq("__text_hash"))
      .drop("__text_hash")
      .withColumn("is_duplicate", col(idCol) =!= col("canonical_id"))
  }

  /** Skinny form of [[markDuplicates]]: returns only
    * `(idCol, canonical_id, is_duplicate)` with the text column pruned
    * BEFORE any exchange. The annotating form's contract ("every input
    * column survives") forces the probe side of the join-back to carry the
    * full `text` payload through the `__text_hash` shuffle — at web scale
    * that is the corpus's entire text width through one exchange. Here both
    * join sides derive from a `(id, md5)` projection, so the two shuffles
    * move ~50-byte rows and the caller re-attaches whatever columns it
    * needs with a join on `idCol` (or simply filters ids): two narrow
    * shuffles instead of one corpus-wide one, and `text` stays columnar at
    * rest. Same null-text sentinel semantics as the annotating form.
    */
  def markDuplicatesIds(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val hashed = docs.select(
      col(idCol),
      textHashKey(col(textCol)).as("__text_hash"))
    val canon = hashed
      .groupBy(col("__text_hash"))
      .agg(min(col(idCol)).as("canonical_id"))
    hashed
      .join(canon, Seq("__text_hash"))
      .select(
        col(idCol),
        col("canonical_id"),
        (col(idCol) =!= col("canonical_id")).as("is_duplicate"))
  }

  /** Exact all-pairs n-gram Jaccard >= threshold: every pair of documents
    * that shares a shingle and whose true Jaccard, rounded to 4 places,
    * reaches `threshold` — nothing capped, nothing dropped. A prefix-filtered
    * set-similarity join (Bayardo et al., "Scaling Up All Pairs Similarity
    * Search", WWW 2007; Vernica, Carey & Li, SIGMOD 2010): order every
    * document's shingles by ascending corpus df (ties by hash, one global
    * order) and index only its first |s| - ceil(t*|s|) + 1. Two sets with
    * Jaccard >= t share at least ceil(t*|s|) shingles, so their prefixes
    * meet; candidates are then verified against the full sets. Corpus-common
    * boilerplate sorts last and falls out of the prefixes on its own, so the
    * self-join stays proportional to rare-shingle overlap. t is taken one
    * rounding unit below `threshold`: a pair at true Jaccard t - 5e-5 still
    * rounds up to t, and the margin absorbs floating-point error in the
    * ceiling (a longer prefix only adds candidates).
    *
    * The output is every true pair, so a cluster of k identical documents
    * yields k(k-1)/2 rows. Collapse mass exact copies through
    * [[markDuplicates]] first (as `PrepareJob` does) — one hash aggregation.
    *
    * The shingle sets are checkpointed once; then one of two paths runs,
    * chosen by their size the way a broadcast join is chosen. One aggregate
    * job reads the shingle and row counts. When 8 bytes per shingle plus 16
    * per row is at most `spark.sql.autoBroadcastJoinThreshold` of `docs`'
    * session (and `doc_id` is a long), the sets are collected and the same
    * search runs in driver memory ([[prefixJoinInMemory]]); its pairs come
    * back as a local relation with the distributed plan's schema. That path
    * gives up, having enumerated nothing, when its prefix self-join could
    * emit more than the broadcast threshold / 24 candidate pairs (8 bytes
    * for the packed pair, 16 for the two ids of its row). Larger inputs, or
    * a broadcast threshold <= 0, run the distributed plan
    * ([[prefixJoinPairs]]), the web-scale path.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      n: Int = 4,
      threshold: Double = 0.8
  )(implicit spark: SparkSession): DataFrame = {
    // native codegen expression (bit-identical to the Scala kernel,
    // property-tested): no typed-map object boundary — pruning and
    // whole-stage codegen run through the shingling
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    // The sorted distinct shingle sets are MATERIALIZED once (reliable
    // checkpoint when a dir is set, eager localCheckpoint otherwise — see
    // [[truncateLineage]]): the df pass, the prefix postings and both sides
    // of the verification read them, and without the checkpoint each would
    // re-scan and re-shingle the corpus. Construction is therefore EAGER,
    // under the truncateLineage storage contract (see minhashPairs).
    val sets = truncateLineage(docs.select(
      col("doc_id"),
      graft.expressions.GraftFunctions.shingleHashes64(col("text"), n).as("shingles")))
    // lazy: it starts no job unless returned, and the driver path takes
    // its schema
    val distributed = prefixJoinPairs(sets, threshold)
    val session = docs.sparkSession
    // the driver path indexes arrays by Int: a threshold beyond 2 GiB is
    // capped there
    val bound = math.min(session.sessionState.conf.autoBroadcastJoinThreshold, Int.MaxValue.toLong)
    val inMemory =
      if (bound <= 0 || sets.schema("doc_id").dataType != LongType) None
      else {
        val (shingles, rows) = sets
          .select(when(col("shingles").isNull, 0).otherwise(size(col("shingles"))))
          .rdd.aggregate((0L, 0L))(
            (acc, r) => (acc._1 + r.getInt(0), acc._2 + 1),
            (x, y) => (x._1 + y._1, x._2 + y._2))
        if (8 * shingles + 16 * rows > bound) None
        else {
          import session.implicits._
          val collected = sets.as[(java.lang.Long, Array[Long])].collect()
          prefixJoinInMemory(collected.map(_._1), collected.map(_._2), threshold, bound / 24)
        }
      }
    inMemory.fold(distributed)(pairs => session.createDataFrame(pairs.asJava, distributed.schema))
  }

  /** The distributed plan of [[ngramJaccardPairs]] over the checkpointed
    * `(doc_id, shingles)` sets.
    */
  private def prefixJoinPairs(sets: DataFrame, threshold: Double): DataFrame = {
    // Document frequency per shingle: a partial-aggregated groupBy joined
    // back, NOT a window — a window partition runs on ONE task, so a
    // corpus-common shingle (df 10^7-10^8 at web scale) would land its whole
    // posting list on a single spilling task; under partial aggregation it
    // shrinks to one row per map task.
    val posts = sets.select(col("doc_id"), size(col("shingles")).as("len"), explode(col("shingles")).as("sh"))
    val dfTab = posts.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // A df-1 shingle is in no other document and can never make a
    // candidate, so only shared posts reach the per-doc aggregate (bounded
    // by the document's own size — not a window), and a document without
    // one drops out. Its df-1 shingles sort first, so of its
    // |s| - ceil(t*|s|) + 1 prefix places the shared ones fill the last
    // size(o) - ceil(t*|s|) + 1, if any. |s| is the shortest of the
    // doc_id's sets that holds a shared post: with one row per doc_id its
    // size; with several, the merged prefix then covers each row's own.
    val ordered = posts.join(dfTab.filter(col("df") > 1), Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(
        min(col("len")).as("len"),
        sort_array(collect_list(struct(col("df"), col("sh")))).as("o"))
    val sharedLen = size(col("o")) - ceil(lit(threshold - 1e-4) * col("len")) + 1
    val prefixes = ordered.select(col("doc_id"),
      explode(slice(col("o"), lit(1), greatest(lit(0), sharedLen).cast("int")).getField("sh")).as("sh"))
    val candidates = prefixes.select(col("sh"), col("doc_id").as("a_id"))
      .join(prefixes.select(col("sh"), col("doc_id").as("b_id")), Seq("sh"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    verifiedPairs(candidates, sets, threshold)
  }

  /** [[prefixJoinPairs]] in driver memory over the collected rows
    * (`ids(i)`, `sets(i)`), with its semantics:
    *  - df counts every post, null-`doc_id` rows included; a row with null
    *    shingles posts nothing.
    *  - A doc_id's rows merge their shared posts into one prefix, as the
    *    per-doc `groupBy` does, sized by the shortest of its sets holding a
    *    shared post; a null doc_id never pairs.
    *  - Candidates are distinct id pairs a < b meeting in a prefix, and each
    *    is verified once per pair of their rows, as the joins on `a_id` and
    *    `b_id` do, with Spark's `round` (HALF_UP on the double's decimal
    *    string).
    * Every post is packed with its row and the posts are sorted once by
    * shingle ([[sortPosts]]): a shingle's posts are then one run, whose
    * length is its df and whose index is the shingle's rank among the
    * distinct ones (ranks order as the hashes do). Visiting the shared runs
    * in (df, rank) order hands each doc its prefix postings in order, with
    * no per-doc sort and no search. Returns None before enumerating a
    * candidate when the prefix self-join would emit more than
    * `maxCandidates` pairs, the sum of k(k - 1) / 2 over its postings.
    */
  private def prefixJoinInMemory(
      ids: Array[java.lang.Long],
      sets: Array[Array[Long]],
      threshold: Double,
      maxCandidates: Long): Option[Seq[Row]] = {
    val nPosts = sets.iterator.filter(_ != null).map(_.length).sum
    val keys = new Array[Long](nPosts)
    val postRow = new Array[Int](nPosts)
    var at = 0
    for (r <- sets.indices if sets(r) != null) {
      System.arraycopy(sets(r), 0, keys, at, sets(r).length)
      java.util.Arrays.fill(postRow, at, at + sets(r).length, r)
      at += sets(r).length
    }
    sortPosts(keys, postRow)
    // run r (rank r) is posts runStart(r) until runStart(r + 1)
    val runStart = new Array[Int](nPosts + 1)
    var nRuns = 0
    for (i <- 0 until nPosts if i == 0 || keys(i) != keys(i - 1)) { runStart(nRuns) = i; nRuns += 1 }
    runStart(nRuns) = nPosts

    // rows with a doc_id in id order; group g is rows(starts(g) until starts(g + 1))
    val rows = ids.indices.filter(ids(_) != null).sortBy(ids(_).longValue).toArray
    val starts = (rows.indices.filter(i => i == 0 || ids(rows(i)) != ids(rows(i - 1))) :+ rows.length).toArray
    val nGroups = starts.length - 1
    val groupOf = Array.fill(ids.length)(-1)
    for (g <- 0 until nGroups; i <- starts(g) until starts(g + 1)) groupOf(rows(i)) = g
    def groupSets(g: Int) = (starts(g) until starts(g + 1)).map(i => sets(rows(i))).filter(_ != null)

    // per group: its shared posts and the shortest of its sets holding one;
    // the shared runs, df << 32 | rank, sorted
    val shared = new Array[Int](nGroups)
    val len = Array.fill(nGroups)(Int.MaxValue)
    val sharedRuns = new Array[Long](nRuns)
    var nShared = 0
    for (r <- 0 until nRuns) {
      val df = runStart(r + 1) - runStart(r)
      if (df > 1) {
        sharedRuns(nShared) = df.toLong << 32 | r
        nShared += 1
        for (p <- runStart(r) until runStart(r + 1)) {
          val g = groupOf(postRow(p))
          if (g >= 0) { shared(g) += 1; len(g) = math.min(len(g), sets(postRow(p)).length) }
        }
      }
    }
    java.util.Arrays.sort(sharedRuns, 0, nShared)
    val room = Array.tabulate(nGroups) { g =>
      if (shared(g) == 0) 0
      else math.min(shared(g).toLong, math.max(0L, shared(g) - math.ceil((threshold - 1e-4) * len(g)).toLong + 1)).toInt
    }

    // prefix postings, grouped by shingle: postings(postingStart(s) until
    // postingStart(s + 1)) are the groups whose prefix holds shared run s
    val postings = new Array[Int](nPosts)
    val postingStart = new Array[Int](nShared + 1)
    var nPostings = 0
    var emitted = 0L
    for (s <- 0 until nShared) {
      postingStart(s) = nPostings
      val r = sharedRuns(s).toInt
      for (p <- runStart(r) until runStart(r + 1)) {
        val g = groupOf(postRow(p))
        if (g >= 0 && room(g) > 0) { room(g) -= 1; postings(nPostings) = g; nPostings += 1 }
      }
      val k = (nPostings - postingStart(s)).toLong
      emitted += k * (k - 1) / 2
      if (emitted > maxCandidates) return None
    }
    postingStart(nShared) = nPostings

    // candidates ga << 32 | gb, ga < gb, so doc ids a < b
    val candidates = new Array[Long](emitted.toInt)
    var nCandidates = 0
    for (s <- 0 until nShared; x <- postingStart(s) until postingStart(s + 1); y <- x + 1 until postingStart(s + 1)) {
      val (ga, gb) = (math.min(postings(x), postings(y)), math.max(postings(x), postings(y)))
      if (ga != gb) { candidates(nCandidates) = ga.toLong << 32 | gb; nCandidates += 1 }
    }
    java.util.Arrays.sort(candidates, 0, nCandidates)
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    for (c <- 0 until nCandidates if c == 0 || candidates(c) != candidates(c - 1)) {
      val (ga, gb) = ((candidates(c) >>> 32).toInt, candidates(c).toInt)
      val (a, b) = (ids(rows(starts(ga))), ids(rows(starts(gb))))
      for (sa <- groupSets(ga); sb <- groupSets(gb)) {
        val common = intersectionSize(sa, sb)
        val jaccard = java.math.BigDecimal.valueOf(common.toDouble / (sa.length + sb.length - common))
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
        if (jaccard >= threshold) out += Row(a, b, jaccard)
      }
    }
    Some(out.toSeq)
  }

  /** Sorts the posts `keys` ascending (as signed longs) and permutes their
    * rows `rows` alongside: an LSD radix sort, 16 bits a pass, stable, in
    * linear time.
    */
  private def sortPosts(keys: Array[Long], rows: Array[Int]): Unit = {
    val n = keys.length
    var (k, r) = (keys, rows)
    var (k2, r2) = (new Array[Long](n), new Array[Int](n))
    val count = new Array[Int]((1 << 16) + 1)
    for (shift <- 0 until 64 by 16) {
      // the sign bit flipped, unsigned digit order is signed key order
      def digit(x: Long) = (((x ^ Long.MinValue) >>> shift) & 0xffff).toInt
      java.util.Arrays.fill(count, 0)
      var i = 0
      while (i < n) { count(digit(k(i)) + 1) += 1; i += 1 }
      var d = 0
      while (d < (1 << 16)) { count(d + 1) += count(d); d += 1 }
      i = 0
      while (i < n) {
        val to = digit(k(i))
        k2(count(to)) = k(i)
        r2(count(to)) = r(i)
        count(to) += 1
        i += 1
      }
      val (tk, tr) = (k, r)
      k = k2; r = r2; k2 = tk; r2 = tr
    }
    // four passes: the sorted posts are back in `keys` and `rows`
  }

  /** Common elements of two ascending arrays of distinct longs. */
  private def intersectionSize(a: Array[Long], b: Array[Long]): Int = {
    var i = 0
    var j = 0
    var common = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { common += 1; i += 1; j += 1 }
    }
    common
  }

  /** Exact Jaccard verification of candidate `(a_id, b_id)` pairs against
    * the full `(doc_id, shingles)` sets: one row per pair whose Jaccard,
    * rounded to 4 places (HALF_UP, the oracle's rounding), reaches
    * `threshold` — the one verifier of [[ngramJaccardPairs]] and
    * [[minhashPairs]].
    */
  private def verifiedPairs(candidates: DataFrame, sets: DataFrame, threshold: Double): DataFrame = {
    def side(p: String) = sets.select(col("doc_id").as(s"${p}_id"), col("shingles").as(s"${p}_sh"))
    candidates
      .join(side("a"), "a_id")
      .join(side("b"), "b_id")
      .withColumn("common", size(array_intersect(col("a_sh"), col("b_sh"))))
      .withColumn(
        "jaccard",
        round(
          col("common").cast("double") /
            (size(col("a_sh")) + size(col("b_sh")) - col("common")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** MinHash + LSH near-dup candidate generation with exact-Jaccard
    * verification. Bands of `rowsPerBand` signature slots bucket-join
    * candidates (the only shuffle proportional to corpus size); candidate
    * pairs are then verified against the true shingle-set Jaccard so the
    * output contains no false positives. Every candidate pair is kept, so
    * `k` identical documents yield all k(k-1)/2 pairs: route mass exact
    * copies through [[markDuplicates]] first. The shingle+signature projection is
    * materialized once via [[truncateLineage]]: band generation AND both
    * sides of the verification join consume it, and without truncation each
    * consumer re-scans and re-shingles the corpus (the r5 PLANS.md
    * redundant-subtree finding). Two consequences callers own: CONSTRUCTING
    * the returned DataFrame now runs the shingle scan eagerly (it is no
    * longer a free lazy plan), and checkpoint storage follows the
    * [[truncateLineage]] contract — localCheckpoint blocks are reclaimed by
    * the ContextCleaner when the plan is dropped, but RELIABLE checkpoints
    * (checkpoint dir set) persist until
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` or the dir is
    * removed, so long-lived sessions calling this repeatedly must set one
    * of those up (same dial the cluster loop already documents).
    */
  def minhashPairs(
      docs: DataFrame,
      n: Int = 4,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8
  )(implicit spark: SparkSession): DataFrame = {
    // native codegen expressions end to end (shingles -> signature -> band
    // keys, each bit-identical to the Scala kernels): the whole candidate
    // generation stays inside whole-stage codegen with no typed-map
    // object boundaries
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    import graft.expressions.GraftFunctions.{minhashBands, minhashSig, shingleHashes64}
    val shingled = truncateLineage(docs.select(
      col("doc_id"),
      shingleHashes64(col("text"), n).as("shingles"))
      .withColumn("sig", minhashSig(col("shingles"), numHashes)))

    // band buckets: (band, hash(slice)) -> doc list
    val bandRows = shingled
      .select(col("doc_id"),
        posexplode(minhashBands(col("sig"), bands)).as(Seq("band", "bucket")))
      .select(col("band"), col("bucket"), col("doc_id"))

    val candidates = bandRows.select(col("band"), col("bucket"), col("doc_id").as("a_id"))
      .join(bandRows.select(col("band"), col("bucket"), col("doc_id").as("b_id")),
        Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()

    verifiedPairs(candidates, shingled, threshold)
  }

  /** Per-doc 64-bit SimHash (near-dup = small hamming distance; identical
    * simhash groups are exact-bucket near-dups). Computed by the native
    * Catalyst expression (codegen'd, no object churn); bit-identical to the
    * Scala kernel `simhash64` (tested). Emitted per doc so downstream can
    * choose the radius; grouping by the hash itself is the radius-0 dedup.
    */
  def simhashes(docs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    docs.select(
      col("doc_id"),
      graft.expressions.GraftFunctions.simhash64(col("text")).as("simhash"))
  }

  /** SimHash near-dup pairs within hamming `radius`, using the
    * multi-table block-combination construction of Manku/Jain/Das Sarma
    * (WWW 2007 §3): split the 64-bit hash into B = radius + 3 blocks; a pair
    * within `radius` differs in at most `radius` blocks, so it AGREES on at
    * least B - radius = 3 blocks — every 3-block combination is a table, and
    * the pair collides in at least one table on that combination's
    * concatenated ~32-bit key. Wider keys are the scale fix over the naive
    * radius+1 pigeonhole split: 16-bit keys put ~N/65k docs in every bucket
    * (quadratic blowup at web scale), while ~32-bit keys keep expected
    * buckets O(N/4x10^9).
    *
    * Identical hashes are grouped once: same-hash pairs come from one
    * self-join on the hash itself (the whole search at radius 0), and the
    * table search runs over DISTINCT hashes, whose pairs join back to their
    * docs — so a mass-duplicate cluster is one key there, not a bucket in
    * every table. Every pair within `radius` is returned once, so `k`
    * identical hashes yield all k(k-1)/2 pairs: route mass exact copies
    * through [[markDuplicates]] first.
    *
    * Verification (bit_count(a XOR b) <= radius) runs on codegen'd built-ins;
    * candidate generation is exact (no false negatives) by the pigeonhole
    * argument above.
    */
  def simhashPairs(docs: DataFrame, radius: Int = 3)(implicit spark: SparkSession): DataFrame =
    simhashPairsFromHashes(simhashes(docs), radius)

  /** Pair search over a precomputed (doc_id, simhash) table — the testable
    * core of [[simhashPairs]].
    */
  def simhashPairsFromHashes(hashed0: DataFrame, radius: Int = 3)(
      implicit spark: SparkSession): DataFrame = {
    require(radius >= 0 && radius <= 8, s"radius $radius out of range")
    val hashed = hashed0.select(col("doc_id"), col("simhash"))
    def docsOf(p: String) = hashed.select(col("simhash").as(s"${p}_h"), col("doc_id").as(s"${p}_id"))
    val same = docsOf("a").join(docsOf("b"), col("a_h") === col("b_h"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), lit(0).as("hamming"))
    if (radius == 0) return same
    // per-table block-combination keys of each distinct hash via the native
    // codegen expression (table id = position in the key array)
    graft.expressions.GraftFunctions.register(hashed0.sparkSession)
    val posts = hashed.select(col("simhash")).distinct()
      .select(col("simhash"),
        posexplode(graft.expressions.GraftFunctions.simhashKeys(col("simhash"), radius))
          .as(Seq("table_id", "key")))
    val near = posts.select(col("table_id"), col("key"), col("simhash").as("a_h"))
      .join(posts.select(col("table_id"), col("key"), col("simhash").as("b_h")), Seq("table_id", "key"))
      .filter(col("a_h") =!= col("b_h"))
      // hamming as pure built-ins (bit_count(xor)) — stays inside codegen
      .select(col("a_h"), col("b_h"),
        bit_count(col("a_h").bitwiseXOR(col("b_h"))).cast("int").as("hamming"))
      .filter(col("hamming") <= radius)
      .distinct()
      // both orientations of each hash pair join back; a_id < b_id keeps one
      .join(docsOf("a"), "a_h")
      .join(docsOf("b"), "b_h")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("hamming"))
    same.unionByName(near)
  }

  /** Lineage truncation for iterative plans: reliable `checkpoint()` when
    * the session has a checkpoint directory configured, eager
    * `localCheckpoint` otherwise. Local checkpoints store their blocks ON
    * the executors — fast, but NOT fault-tolerant: at cluster scale a
    * single executor loss (or dynamic-allocation decommission) mid-loop
    * kills the job unrecoverably. Production deployments must call
    * `spark.sparkContext.setCheckpointDir(...)` so every round's state
    * lands on reliable storage and the loop survives executor churn; the
    * local fallback is the single-JVM / test default.
    *
    * Cleanup: Spark only deletes superseded reliable checkpoints when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (default
    * false) — set it in long-lived sessions, or point the checkpoint dir
    * at a per-job location removed after the job, else each iteration's
    * files accumulate on the reliable store.
    */
  private[ops] def truncateLineage(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint(true)

  /** Connected-component dedup clusters over a near-dup PAIR set: every doc
    * gets `cluster_id` = the smallest doc_id reachable through the pairs
    * (docs in no pair keep their own id) — the step a training pipeline runs
    * after candidate generation, so each near-dup component keeps exactly
    * one survivor (`doc_id == cluster_id`). Only pairs whose two ends are
    * both doc ids are edges: an endpoint missing from `docs` joins nothing,
    * a doc_id listed twice keeps both rows, and a null doc_id is labelled
    * (null, null).
    *
    * One of two paths runs, chosen by input size the way a broadcast join
    * is chosen. With k = `spark.sql.autoBroadcastJoinThreshold` of `docs`'
    * session / 16 bytes (two longs a row), one bounded read
    * ([[boundedRead]]) takes the doc id rows and the `(a_id, b_id)` pair
    * rows together.
    *  - At most k rows in all (and long ids): union-find on the driver
    *    ([[componentLabels]]), and every doc row's label comes back as a
    *    local relation. One Spark job in all, where each round of the loop
    *    below costs several.
    *  - More than k rows, or a threshold <= 0: the pairs are normalized once
    *    (larger -> smaller, no self pairs, distinct, both ends docs) and
    *    checkpointed via [[truncateLineage]] (reliable when a checkpoint dir
    *    is set), then alternating large-star / small-star contraction
    *    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    *    SoCC 2014), O(log^2 n) rounds on ANY graph shape, so a long chain
    *    of near-dup revisions converges in a few rounds where min-label
    *    propagation would need one round per unit of diameter (a 1000-node
    *    chain converges within 25 rounds — tested). Each round's edge set
    *    is truncated via [[truncateLineage]]: without lineage truncation
    *    every round's plan embeds all previous rounds. Convergence = the
    *    materialized edge set is a min-rooted star forest
    *    ([[isStarForest]]), the contraction's fixpoint — an exact check,
    *    never a hash heuristic: a false convergence would silently emit
    *    multiple survivors per component. A graph that is not a star forest
    *    after `maxIters` rounds throws. The labels are the doc ids
    *    left-joined to the contracted roots.
    */
  def dupClusters(docs: DataFrame, pairs: DataFrame, maxIters: Int = 50)(
      implicit spark: SparkSession): DataFrame = {
    val ids = docs.select(col("doc_id"))
    val ends = pairs.select(col("a_id"), col("b_id"))
    val session = docs.sparkSession
    val threshold = session.sessionState.conf.autoBroadcastJoinThreshold
    val inMemory =
      if (threshold <= 0 || (ids.schema ++ ends.schema).exists(_.dataType != LongType)) None
      else boundedRead(
        ids.select(col("doc_id"), lit(null).cast(LongType), lit(true).as("is_doc")),
        ends.select(col("a_id"), col("b_id"), lit(false)),
        threshold / 16).map(componentLabels)
    inMemory match {
      case Some(labels) =>
        val docId = ids.schema("doc_id")
        session.createDataFrame(labels.asJava,
          StructType(Seq(docId, StructField("cluster_id", LongType, docId.nullable))))
      case None =>
        val edges = truncateLineage(
          ends.select(greatest(col("a_id"), col("b_id")).as("u"),
              least(col("a_id"), col("b_id")).as("v"))
            .filter(col("u") =!= col("v"))
            .distinct()
            .join(ids.withColumnRenamed("doc_id", "u"), Seq("u"), "left_semi")
            .join(ids.withColumnRenamed("doc_id", "v"), Seq("v"), "left_semi")
            .select(col("u"), col("v")))
        ids.join(starContraction(edges, maxIters), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("cluster_id"))
    }
  }

  /** The rows of `a` then `b` (one schema), when there are at most
    * `maxRows` of them: one Spark job, whose single task stops reading at
    * `maxRows` + 1 rows, so an input far over the bound costs no more than
    * the bound to reject. An input planned with exchanges runs its last
    * stage in that task, so callers pass materialized inputs (the pair
    * searches return local relations under the bound). The size check of
    * the driver paths of [[dupClusters]] and [[keepBestInCluster]].
    */
  private def boundedRead(a: DataFrame, b: DataFrame, maxRows: Long): Option[Array[Row]] = {
    // limit takes an Int: a bound beyond Int.MaxValue - 1 rows is capped there
    val k = math.min(maxRows, Int.MaxValue - 1L).toInt
    Some(a.union(b).coalesce(1).limit(k + 1).collect()).filter(_.length <= k)
  }

  /** In-memory connected components of [[dupClusters]]' collected rows:
    * `(doc_id, null, true)` per doc row and `(a_id, b_id, false)` per pair
    * row. Union-find over the sorted distinct doc ids with path
    * compression, always linking the larger root under the smaller, so
    * every root is its component's minimum; a pair with a null end or an
    * end that is not a doc is no edge. Returns `(doc_id, cluster_id)` per
    * doc row, in row order.
    */
  private def componentLabels(rows: Array[Row]): Seq[Row] = {
    val (docRows, pairRows) = rows.partition(_.getBoolean(2))
    val all = docRows.filterNot(_.isNullAt(0)).map(_.getLong(0))
    java.util.Arrays.sort(all)
    var n = 0
    for (x <- all) if (n == 0 || all(n - 1) != x) { all(n) = x; n += 1 }
    val nodes = java.util.Arrays.copyOf(all, n)
    // node ids are sorted, so a smaller index is a smaller id
    val parent = Array.tabulate(n)(identity)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var j = i
      while (parent(j) != r) { val next = parent(j); parent(j) = r; j = next }
      r
    }
    def index(x: Long) = java.util.Arrays.binarySearch(nodes, x)
    for (p <- pairRows if !p.isNullAt(0) && !p.isNullAt(1)) {
      val (a, b) = (index(p.getLong(0)), index(p.getLong(1)))
      if (a >= 0 && b >= 0) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    docRows.toSeq.map { r =>
      if (r.isNullAt(0)) Row(null, null)
      else Row(r.getLong(0), nodes(find(index(r.getLong(0)))))
    }
  }

  /** The distributed path of [[dupClusters]]: contracts the normalized edge
    * set (u > v) to a min-rooted star forest and returns it as
    * (doc_id, root), one row per non-root node.
    */
  private def starContraction(edges0: DataFrame, maxIters: Int): DataFrame = {
    var edges = edges0
    var converged = isStarForest(edges)
    var iter = 0
    while (!converged && iter < maxIters) {
      edges = truncateLineage(smallStarStep(largeStarStep(edges)))
      converged = isStarForest(edges)
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(s"dupClusters did not converge in $maxIters iterations")
    // converged state is a min-rooted star per component: every non-root
    // points directly at its component minimum
    edges.select(col("u").as("doc_id"), col("v").as("root"))
  }

  /** True iff the directed edge set (u > v) is a star forest: every u has
    * exactly one outgoing edge and no v is also a u, so each component is
    * one root (its minimum, since edges point larger -> smaller) with every
    * other member pointing straight at it. Both steps map such a set to
    * itself, so it is the contraction's fixpoint, and the round that
    * reaches it is the last. One partial-aggregated pass over the edges.
    */
  private def isStarForest(edges: DataFrame): Boolean =
    edges.select(col("u").as("n"), lit(1).as("out"), lit(0).as("in"))
      .union(edges.select(col("v").as("n"), lit(0).as("out"), lit(1).as("in")))
      .groupBy(col("n"))
      .agg(sum(col("out")).as("out"), max(col("in")).as("in"))
      .filter(col("out") > 1 || (col("out") === 1 && col("in") === 1))
      .isEmpty

  /** Large-star step (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC 2014 §3): for every node u, connect each STRICTLY
    * LARGER neighbor to m = min(N(u) ∪ {u}). All per-node statistics are
    * partial-aggregated groupBys (a hub node shrinks to one row per map
    * task); output edges always point larger -> smaller.
    */
  private def largeStarStep(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
    sym.join(mins, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), least(col("mn"), col("u")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star step: for every node u, connect u and each of its
    * (smaller) neighbors to m = min(N(u)); edges stay larger -> smaller.
    *
    * INPUT CONTRACT: `dir` must already be a DISTINCT edge set directed
    * strictly larger -> smaller (u > v) — exactly what [[largeStarStep]]
    * emits (its output rows are (old_v, least(mn, old_u)) with
    * old_v > old_u >= least(mn, old_u), ending in `.distinct()`) and what
    * [[dupClusters]]'s initial normalization produces. Re-normalizing here
    * (greatest/least + filter + distinct) would be an identity
    * transformation costing one full edge-set exchange per round.
    */
  private def smallStarStep(dir: DataFrame): DataFrame = {
    val mins = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
    dir.join(mins, Seq("u"))
      .select(col("v").as("a"), col("m").as("b"))
      .union(mins.select(col("u").as("a"), col("m").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
      .select(col("a").as("u"), col("b").as("v"))
  }

  /** Quality-aware canonical selection over dedup clusters: for every
    * cluster from [[dupClusters]], elect the HIGHEST `quality` doc
    * (ties → smallest doc_id) as the survivor — what a training pipeline
    * actually keeps from a near-dup component (the best extraction of the
    * page, not an arbitrary member). Returns every doc
    * annotated `(doc_id, cluster_id, quality, keep)`; filter on `keep`
    * for the survivor corpus.
    *
    * `quality` should be a deterministic per-doc column (char count, a
    * quality score) — the election is total because doc_id breaks ties.
    * A doc with a MISSING or null quality is still returned (quality
    * null) and never beats a scored member; a cluster whose members are
    * ALL unscored falls back to the min-doc_id canonical — no document is
    * ever silently dropped from the annotation. Quality compares by
    * Spark's ordering (NaN largest, −0.0 equal to 0.0). A label row with a
    * null cluster_id is dropped; a doc_id listed more than once, in the
    * labels or in `quality`, gives a row per match of the `doc_id` left
    * join, and a null doc_id is annotated with a null `keep`.
    *
    * One of two paths runs, chosen by input size the way a broadcast join
    * is chosen. With k = `spark.sql.autoBroadcastJoinThreshold` of
    * `labels`' session / 32 bytes (doc_id, cluster_id and quality a row),
    * one bounded read ([[boundedRead]]) takes the label and quality rows
    * together. At most k of them, with long ids, an orderable quality and
    * at most k joined rows, elect on the driver ([[electInMemory]]) and
    * come back as a local relation with the distributed plan's schema: one
    * Spark job where the plan below runs about ten.
    *
    * Above the bound, or at a threshold <= 0, the arg-max runs as TWO
    * all-primitive hash-aggregable `groupBy(cluster_id)` passes — max
    * quality per cluster, then min doc_id among the max-quality members —
    * never a `max_by`/struct aggregate (SortAggregate) and never a
    * per-cluster window, so a mega-cluster (one boilerplate page
    * duplicated 10^6 times) shrinks to one row per map task in both passes
    * instead of pinning a single window task. Same election discipline as
    * [[cutDupSpansKeepFirst]]; like there, the labels⨝quality join is
    * materialized once for its three consumers instead of re-running the
    * quality subtree per pass.
    */
  def keepBestInCluster(
      labels: DataFrame,
      quality: DataFrame,
      qualityCol: String = "quality"): DataFrame = {
    val members = labels.select(col("doc_id"), col("cluster_id"))
    val scores = quality.select(col("doc_id"), col(qualityCol).as("q"))
    val session = labels.sparkSession
    val threshold = session.sessionState.conf.autoBroadcastJoinThreshold
    val qType = scores.schema("q").dataType
    val maxRows = threshold / 32
    val inMemory =
      if (threshold <= 0 || !RowOrdering.isOrderable(qType) ||
          (members.schema :+ scores.schema("doc_id")).exists(_.dataType != LongType)) None
      else boundedRead(
        members.select(col("doc_id"), col("cluster_id"), lit(null).cast(qType), lit(true).as("is_label")),
        scores.select(col("doc_id"), lit(null).cast(LongType), col("q"), lit(false)),
        maxRows).flatMap(electInMemory(_, qType, maxRows))
    inMemory match {
      case Some(rows) =>
        session.createDataFrame(rows.asJava, StructType(members.schema.fields ++ Seq(
          StructField(qualityCol, qType), StructField("keep", BooleanType))))
      case None => election(truncateLineage(members.join(scores, Seq("doc_id"), "left")), qualityCol)
    }
  }

  /** The distributed election of [[keepBestInCluster]] over the
    * `(doc_id, cluster_id, q)` join of the labels and the quality rows.
    */
  private def election(j: DataFrame, qualityCol: String): DataFrame = {
    // max() ignores nulls: best_q is null only for all-unscored clusters,
    // where the null-safe <=> match admits every member and the min-doc_id
    // pass elects the fallback canonical
    val bestQ = j.groupBy(col("cluster_id")).agg(max(col("q")).as("best_q"))
    val bestId = j
      .join(bestQ, Seq("cluster_id"))
      .filter(col("q") <=> col("best_q"))
      .groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("best_id"))
    j.join(bestId, Seq("cluster_id"))
      .select(
        col("doc_id"),
        col("cluster_id"),
        col("q").as(qualityCol),
        (col("doc_id") === col("best_id")).as("keep"))
  }

  /** [[election]] on the driver over [[keepBestInCluster]]'s collected
    * rows: `(doc_id, cluster_id, null, true)` per label row and
    * `(doc_id, null, q, false)` per quality row. The rows are left-joined
    * on doc_id as the plan joins them (a null doc_id matches nothing), and
    * each cluster elects its max quality by Spark's ordering of `qType`
    * (the one `max` and `<=>` use), null never above a value, then the
    * min non-null doc_id among the members at that quality. Returns None
    * when the join has more than `maxRows` rows.
    */
  private def electInMemory(rows: Array[Row], qType: DataType, maxRows: Long): Option[Seq[Row]] = {
    val (labelRows, qualityRows) = rows.partition(_.getBoolean(3))
    val qualityOf = qualityRows.filterNot(_.isNullAt(0)).groupBy(_.getLong(0))
    val joined = labelRows.toSeq.flatMap { r =>
      val matches = if (r.isNullAt(0)) None else qualityOf.get(r.getLong(0))
      matches.fold(Seq(Row(r.get(0), r.get(1), null)))(_.toSeq.map(q => Row(r.get(0), r.get(1), q.get(2))))
    }
    if (joined.length > maxRows) return None
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(qType)
    val ordering = TypeUtils.getInterpretedOrdering(qType)
    // cluster_id -> (best quality as a Catalyst value or null, min doc_id at it or null)
    val best = scala.collection.mutable.HashMap.empty[Long, (Any, java.lang.Long)]
    for (r <- joined if !r.isNullAt(1)) {
      val q = if (r.isNullAt(2)) null else toCatalyst(r.get(2))
      val id = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
      best.get(r.getLong(1)) match {
        case None => best(r.getLong(1)) = (q, id)
        case Some((bestQ, bestId)) =>
          val cmp =
            if (q == null || bestQ == null) (q != null).compare(bestQ != null)
            else ordering.compare(q, bestQ)
          if (cmp > 0 || (cmp == 0 && id != null && (bestId == null || id < bestId)))
            best(r.getLong(1)) = (q, id)
      }
    }
    Some(joined.filter(!_.isNullAt(1)).map { r =>
      val bestId = best(r.getLong(1))._2
      val keep = if (r.isNullAt(0) || bestId == null) null else java.lang.Boolean.valueOf(r.getLong(0) == bestId.longValue)
      Row(r.get(0), r.get(1), r.get(2), keep)
    })
  }

  /** Cross-corpus contamination (train/test decontamination): for every doc
    * of `target` (the held-out set), the fraction of its distinct n-gram
    * shingles that occur ANYWHERE in `corpus` (the training set) — the
    * standard benchmark-decontamination signal (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", 2022; GPT-3 appendix C
    * style n-gram overlap). Docs above `threshold` are contaminated and
    * must be dropped from the held-out set (or the training set).
    *
    * Scale shape: the corpus side collapses to DISTINCT shingle hashes
    * (one partial-aggregated pass over the training set — no doc ids, no
    * posting lists), and the per-doc statistics are groupBy+join-back like
    * the rest of the family, so a boilerplate shingle shared by 10^8
    * training docs is ONE row on the build side. Shingling runs through
    * the native codegen expression.
    *
    * Hashed-universe approximation: overlap is computed over 64-bit shingle
    * HASHES, not shingle strings, so a hash collision between a training
    * shingle and an unrelated held-out shingle counts as contamination.
    * At ~2^-64 per pair the effect is negligible at any realistic corpus
    * size, but the signal is hash-based, not the literal Lee-et-al string
    * n-gram overlap — same kernel contract as [[ngramJaccardPairs]].
    */
  def contamination(
      corpus: DataFrame,
      target: DataFrame,
      n: Int = 8,
      threshold: Double = 0.8
  )(implicit spark: SparkSession): DataFrame = {
    graft.expressions.GraftFunctions.register(target.sparkSession)
    def posts(df: DataFrame) = df.select(
      col("doc_id"),
      explode(graft.expressions.GraftFunctions.shingleHashes64(col("text"), n)).as("sh"))
    // one pass over the target: left-join the distinct corpus shingles with
    // a hit marker, then count total vs non-null-marker rows in ONE per-doc
    // aggregation — a totals/hits two-branch form would scan and re-shingle
    // the whole held-out set twice (the branches share no reusable exchange)
    val corpusShingles = posts(corpus).select(col("sh")).distinct()
      .withColumn("__hit", lit(1))
    posts(target)
      .join(corpusShingles, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        count(col("__hit")).as("contaminated_shingles"))
      .withColumn(
        "contamination_frac",
        round(col("contaminated_shingles").cast("double") / col("n_shingles"), 4))
      .withColumn("is_contaminated", col("contamination_frac") >= threshold)
  }

  /** Embedding cosine near-dup pairs, blocked by `label` (the cluster id the
    * table carries) — the blocking join keeps the pair space linear-ish; the
    * cosine is computed with codegen'd higher-order functions, in double
    * precision, sequential fold order (deterministic).
    */
  def embeddingDupPairs(embeddings: DataFrame, threshold: Double = 0.4): DataFrame = {
    // per-row norm computed once before the join — bit-identical to the
    // per-pair formula (sqrt(dot(v,v)) is the same double either way) at a
    // third of the pair-stage work
    val e = embeddings.select(
      col("vec_id"),
      col("label"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(Similarity.dotCol(col("v"), col("v"))))
      .filter(col("norm") > 0.0) // no cosine for a zero vector (see Similarity.withNorm)
    val a = e.select(col("label"), col("vec_id").as("a_id"), col("v").as("a_v"),
      col("norm").as("a_norm"))
    val b = e.select(col("label"), col("vec_id").as("b_id"), col("v").as("b_v"),
      col("norm").as("b_norm"))
    a.join(b, Seq("label"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos",
        Similarity.dotCol(col("a_v"), col("b_v")) / (col("a_norm") * col("b_norm")))
      .filter(col("cos") >= threshold)
      .select(col("label"), col("a_id"), col("b_id"), round(col("cos"), 6).as("cosine"))
  }

  /** Per-document duplicated-passage statistics (the CCNet/RefinedWeb-style
    * sub-document dedup signal): hash every sliding `n`-token window; a
    * window is DUPLICATED when its hash occurs in at least two distinct
    * documents; output per doc = window count, duplicated-window count, and
    * the duplicated fraction. Training pipelines drop or trim documents
    * above a fraction threshold.
    *
    * Pure built-ins end to end (split/sequence/slice/md5 are all
    * codegen'd): the only shuffles are the hash-df aggregation and the
    * per-doc rollup — both partial-aggregated, no arrays ever collected.
    * Cross-doc df is computed on (hash, doc) DISTINCT postings, so a phrase
    * repeated inside ONE document does not count as duplication.
    *
    * Skew discipline: cross-doc df is a partial-aggregated groupBy over the
    * collapsed (hash, doc) rows joined back — not a window. A boilerplate
    * passage shared by 10^7 docs would otherwise pin one window task with
    * its whole posting list; partial aggregation shrinks it to one row per
    * map task, and the join-back's hot probe partition splits under AQE.
    * The explode+md5 map side is NOT recomputed for the second consumer:
    * both branches read the identical (h, doc_id) exchange, which Spark
    * reuses (ReusedExchange — asserted in tests).
    */
  /** The sliding-window hash subtree shared by [[passageDupStats]] and the
    * span operators: one row per n-token window, `(doc_id, i, h)` with `i`
    * the 1-based start offset and `h` = the raw md5 bytes of the
    * space-joined window (binary — same equality relation as the hex
    * digest the SQL oracle spells, at half the key width).
    * This is the SINGLE definition of the window hash — tokenization,
    * window count, and hash live here so the counting and span/cut
    * operators can never diverge. (The `text IS NOT NULL` filter is
    * semantically a no-op for callers that only consume `h` — a null text
    * has no windows either way — but makes the frame safe to reuse where
    * `i`/`t` are touched.)
    */
  private[ops] def windowHashes(docs: DataFrame, n: Int): DataFrame = {
    val toks = split(col("text"), " ")
    docs
      .filter(col("text").isNotNull)
      .select(
        col("doc_id"),
        toks.as("t"),
        greatest(size(toks) - lit(n - 1), lit(0)).as("nw"))
      .filter(col("nw") > 0)
      .select(col("doc_id"), explode(sequence(lit(1), col("nw"))).as("i"), col("t"))
      .select(
        col("doc_id"),
        col("i").cast("long").as("i"),
        // the 16 raw md5 bytes, not the 32-char hex string (r7, guide §2.3
        // "narrower types"): `h` is a purely internal equality key — it
        // feeds the df aggregation, the dup join and the checkpoint, and
        // never appears in any output — and unhex(md5(x)) = bytes(md5(x))
        // is BIJECTIVE with the hex form, so the matched-window relation
        // (and with it every span/count result) is byte-identical while
        // every exchange and the materialized checkpoint carry half the
        // key bytes with cheaper binary comparisons
        unhex(md5(array_join(slice(col("t"), col("i"), lit(n)), " "))).as("h"))
  }

  def passageDupStats(docs: DataFrame, n: Int = 10): DataFrame = {
    val wins = windowHashes(docs, n).select(col("doc_id"), col("h"))
    val perDocHash = wins.groupBy(col("h"), col("doc_id")).agg(count(lit(1)).as("cnt"))
    // The trivially-true filter pins `cnt` against column pruning: without it
    // Catalyst prunes the count out of THIS branch's partial aggregate, the
    // two (h, doc_id) exchanges stop being identical, and ReuseExchange no
    // longer fires — the explode+md5 map side would run twice (verified in
    // the plan; count(1) >= 1 always holds for an aggregate output row).
    val dfTab = perDocHash
      .filter(col("cnt") >= 1)
      .groupBy(col("h")).agg(count(lit(1)).as("docs_with"))
    perDocHash
      .join(dfTab, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt")).as("windows"),
        sum(when(col("docs_with") >= 2, col("cnt")).otherwise(0L)).as("dup_windows"))
      .withColumn(
        "dup_fraction",
        round(col("dup_windows").cast("double") / col("windows"), 4))
  }

  /** Duplicated-SPAN masking — exact substring dedup at n-gram
    * granularity, the transform of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499): for
    * every document, the MAXIMAL 1-based token spans covered by n-token
    * windows whose window hash occurs in at least `minDocs` documents
    * corpus-wide. Unlike [[passageDupStats]] (which only counts), this
    * returns the actual offsets a pipeline would cut.
    *
    * Output: (doc_id, spans: array<struct<span_start:long, span_end:long>>
    * sorted ascending, both ends inclusive; dup_tokens; total_tokens) —
    * one row per INPUT document, empty spans for clean docs.
    *
    * At scale: the window/df subtree is the [[passageDupStats]] shape
    * (one explode + partial-aggregated document frequency); the span
    * merge runs under a per-DOCUMENT window function — partition key =
    * doc_id, bounded by the document's own window count, so no corpus
    * hot key exists by construction. Two windows (lag + running sum)
    * share one sort: spans merge when the token intervals overlap or
    * touch (window gap <= n), NOT only when window indices are
    * consecutive — windows i and i+2 still overlap in tokens for n > 2.
    */
  def dupSpans(docs: DataFrame, n: Int = 10, minDocs: Int = 2): DataFrame = {
    val toks = split(col("text"), " ")
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), size(toks).cast("long").as("total_tokens"))
      .join(dupSpanLists(docs, n, minDocs), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("spans"), emptySpans).as("spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        col("total_tokens"))
  }

  private val emptySpans =
    array().cast("array<struct<span_start:bigint,span_end:bigint>>")

  /** Flat listing form of [[dupSpans]]: one row per duplicated span,
    * `(doc_id, span_start, span_end)`, docs with spans only — the shape a
    * span export or the driver's flat-listing query wants, WITHOUT the
    * clean-doc join and token counters [[dupSpans]] adds on top.
    */
  def dupSpanList(docs: DataFrame, n: Int = 10, minDocs: Int = 2): DataFrame =
    dupSpanRows(docs, n, minDocs)

  /** One row per maximal duplicated span: `(doc_id, span_start, span_end)`.
    * Shared by the listing, rollup, and cut forms.
    */
  private def dupSpanRows(docs: DataFrame, n: Int, minDocs: Int): DataFrame = {
    // materialized once (same discipline as ngramJaccardPairs' shingle sets):
    // the window subtree feeds BOTH the df aggregation and the span join —
    // without the truncation the corpus is tokenized and hashed twice
    val wins = truncateLineage(windowHashes(docs, n))
    mergeIslands(wins.join(dupHashes(wins, minDocs), Seq("h")), n)
  }

  /** Hashes occurring in at least `minDocs` DISTINCT documents — the
    * shared "duplicated" predicate of the span family. Partial-aggregated
    * (distinct + count), no window.
    */
  private def dupHashes(wins: DataFrame, minDocs: Int): DataFrame =
    wins
      .select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("docs_with"))
      .filter(col("docs_with") >= minDocs)
      .select(col("h"))

  /** Merge a set of cut-marked windows `(doc_id, i)` into maximal token
    * spans: windows join the same span when their token intervals overlap
    * or touch (start gap <= n). Per-DOCUMENT window functions only —
    * partition key = doc_id, so no corpus hot key exists by construction;
    * the lag and running-sum windows share one sort.
    */
  private def mergeIslands(cutWins: DataFrame, n: Int): DataFrame = {
    val ordered = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val running = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cutWins
      .select(col("doc_id"), col("i"))
      .withColumn(
        "new_span",
        when(col("i") - lag(col("i"), 1).over(ordered) > n, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("new_span")).over(running))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("i")).as("span_start"), (max(col("i")) + lit(n - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** The shared span-list subtree of [[dupSpans]]/[[cutDupSpans]]:
    * `(doc_id, spans, dup_tokens)` for documents that HAVE duplicated
    * spans only — callers left-join and coalesce for the clean docs.
    */
  private def dupSpanLists(docs: DataFrame, n: Int, minDocs: Int): DataFrame =
    spanListsOf(dupSpanRows(docs, n, minDocs))

  /** Per-doc sorted span-list rollup of a `(doc_id, span_start, span_end)`
    * row set. The struct field names and sort order are a CONTRACT with
    * [[cutBySpanLists]]'s `getField` access — one definition for every
    * consumer (the rollup, both cut variants) so the shape cannot fork.
    */
  private def spanListsOf(spanRows: DataFrame): DataFrame =
    spanRows
      .groupBy(col("doc_id"))
      .agg(
        sort_array(collect_list(struct(col("span_start"), col("span_end")))).as("spans"),
        sum(col("span_end") - col("span_start") + 1).as("dup_tokens"))

  /** The cut step of exact substring dedup: rewrite each document with its
    * duplicated spans (per [[dupSpans]]) REMOVED. This is the destructive
    * variant of Lee et al. 2022's ExactSubstr transform — every occurrence
    * of a corpus-duplicated n-gram run is dropped (the published default:
    * at web scale the duplicated mass is boilerplate). For the
    * keep-one-copy policy see [[cutDupSpansKeepFirst]].
    *
    * Output: `(doc_id, clean_text, kept_tokens)` — one row per input
    * document with non-null text; a fully-duplicated document survives as
    * an empty string with `kept_tokens = 0`, so downstream length gates
    * (not this operator) decide whether it lives.
    *
    * At scale: the span side is the shared [[dupSpanLists]] subtree (docs
    * WITH spans only — the usual minority); the text side is ONE
    * column-pruned scan of (id, text) left-joined on doc_id. The rewrite
    * itself is a row-local higher-order-function chain (`filter` with
    * index + `exists` over the doc's own span list), no explode of the
    * token stream and no shuffle beyond the doc_id join. Cost per row is
    * tokens × spans-per-doc, both document-bounded; `kept_tokens` is the
    * filtered array's own length, so no total/dup counters ride the join.
    */
  def cutDupSpans(docs: DataFrame, n: Int = 10, minDocs: Int = 2): DataFrame =
    cutBySpanLists(docs, dupSpanLists(docs, n, minDocs))

  /** Keep-one-copy variant of [[cutDupSpans]]: for every corpus-duplicated
    * window hash, the globally FIRST occurrence (minimum `(doc_id, i)`,
    * deterministic) is elected canonical and is never itself cut; every
    * other occurrence is cut exactly as in [[cutDupSpans]]. One copy of
    * each duplicated run therefore survives — the policy a
    * citation-preserving or provenance-sensitive corpus wants, where the
    * destructive default would drop ALL copies of a popular passage.
    *
    * Granularity caveat (documented contract): the keep guarantee is
    * per-WINDOW, not per-token — a canonical window's tokens can still
    * fall inside a cut span started by a DIFFERENT duplicated run
    * overlapping it in the same document. For disjoint duplicated runs
    * (the common boilerplate case) the canonical copy survives verbatim.
    *
    * At scale: the lexicographic-min election runs as TWO hash-aggregable
    * `groupBy(h)` steps — min doc per hash, then min index within that
    * doc — because a single `min(struct(doc_id, i))` plans as a
    * SortAggregate (struct min is not hash-aggregable), which would sort
    * every duplicated occurrence map- and reduce-side. All-primitive mins
    * keep the election HashAggregate end to end, NO per-hash window, so a
    * corpus-common boilerplate hash shrinks to one row per map task
    * instead of pinning a single window task (same groupBy+join-back
    * discipline as [[markDuplicates]]). The window subtree AND the
    * duplicated-occurrence join are each materialized once — the latter
    * feeds three consumers (both election passes and the cut join), which
    * would otherwise re-run the df join per consumer.
    */
  def cutDupSpansKeepFirst(docs: DataFrame, n: Int = 10, minDocs: Int = 2): DataFrame = {
    val wins = truncateLineage(windowHashes(docs, n))
    val dup = truncateLineage(wins.join(dupHashes(wins, minDocs), Seq("h")))
    val cDoc = dup.groupBy(col("h")).agg(min(col("doc_id")).as("c_doc"))
    val canon = dup
      .join(cDoc, Seq("h"))
      .filter(col("doc_id") === col("c_doc"))
      .groupBy(col("h"), col("c_doc")).agg(min(col("i")).as("c_i"))
    val cutWins = dup
      .join(canon, Seq("h"))
      .filter(!(col("doc_id") === col("c_doc") && col("i") === col("c_i")))
    cutBySpanLists(docs, spanListsOf(mergeIslands(cutWins, n)))
  }

  /** The shared rewrite of the cut family: drop every token of `docs`
    * that falls inside its document's span list (row-local higher-order
    * `filter` + `exists`; clean docs pass through via the left join).
    */
  private def cutBySpanLists(docs: DataFrame, spanLists: DataFrame): DataFrame = {
    val spansByDoc = spanLists.select(col("doc_id"), col("spans"))
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .join(spansByDoc, Seq("doc_id"), "left")
      .withColumn("kept", filter(col("t"), (tok, i) =>
        !exists(coalesce(col("spans"), emptySpans), sp =>
          (i + lit(1)) >= sp.getField("span_start") &&
            (i + lit(1)) <= sp.getField("span_end"))))
      .select(
        col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        size(col("kept")).cast("long").as("kept_tokens"))
  }

  /** Embedding cosine near-dup pairs WITHOUT a blocking label — for corpora
    * that carry no cluster column. Multi-table sign-LSH blocking (reusing
    * [[Similarity.lshBucket]] with a per-table seed): a near-identical pair
    * is separated by any given hyperplane with probability angle/pi, so it
    * collides in at least one of the `tables` independent bucketings with
    * probability 1 - (1 - (1-p)^planes)^tables. This is a NEAR-DUP
    * operator: the default threshold is dup-grade (0.95 -> p=0.10, pair
    * recall ~0.93 at the defaults; identical vectors are found with
    * probability 1) — at looser thresholds the collision bound collapses
    * (cos 0.4 -> ~0.14 recall) and the right tool is the exact
    * label-blocked [[embeddingDupPairs]] or a higher `tables` count.
    * Candidates are verified by exact cosine, so the output has no false
    * positives at any setting.
    *
    * Scale tuning: expected bucket size is N / 2^planes per table — raise
    * `planes` with corpus size (e.g. 30 planes for 10^9 buckets at 10^12
    * rows) and `tables` to recover the recall the harder partition loses;
    * postings stay `tables` rows per vector.
    *
    * Determinism note (round 4): per-table seeds derive as
    * `seed + GOLDEN * t` (shared with [[Similarity.lshTopK]] via the
    * native `sign_lsh_packed` expression); before round 4 they derived as
    * `seed ^ (t * GOLDEN)`, so the same `seed` does NOT reproduce
    * pre-round-4 candidate sets for `tables >= 2`. Exact duplicates (the
    * oracle's planted guarantee) collide in every table under any scheme;
    * only which NEAR-threshold pairs happen to collide shifts.
    *
    * Every pair that collides in some table and passes the cosine check is
    * returned once; IDENTICAL vectors collide in every table, so `k` copies
    * of one vector yield all k(k-1)/2 pairs — route mass exact copies
    * through a hash-grouping dedup first (group by a digest of the vector,
    * the embedding analogue of [[exact]]). Expected bucket size on diffuse
    * data is N / 2^planes per table. A zero-norm vector has no cosine and
    * takes part in no pair ([[Similarity.withNorm]]).
    */
  def embeddingDupPairsLsh(
      embeddings: DataFrame,
      threshold: Double = 0.95,
      tables: Int = 6,
      planes: Int = 8,
      seed: Long = 7L
  ): DataFrame = {
    // native codegen bucketing (no udf boundary in candidate generation);
    // the packed (table << 32 | bucket) long IS the blocking key. Register
    // into the dataframe's OWN session — the one that analyzes this plan —
    // not SparkSession.active, which can be a different session under
    // newSession()/multi-threaded callers.
    graft.expressions.GraftFunctions.register(embeddings.sparkSession)
    val e = Similarity.withNorm(embeddings)
      .withColumn("tb",
        explode(graft.expressions.GraftFunctions.signLshPacked(col("v"), seed, planes, tables)))
    val a = e.select(col("tb"), col("vec_id").as("a_id"),
      col("v").as("a_v"), col("norm").as("a_norm"))
    val b = e.select(col("tb"), col("vec_id").as("b_id"),
      col("v").as("b_v"), col("norm").as("b_norm"))
    a.join(b, Seq("tb"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (Similarity.dotCol(col("a_v"), col("b_v")) / (col("a_norm") * col("b_norm"))).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col("a_id"), col("b_id"))
      .agg(round(max(col("cos")), 6).as("cosine"))
  }
}
