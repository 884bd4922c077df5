package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the 64-bit SimHash document sketch.
  *
  * Why an Expression and not a UDF: the sketch runs over every document of
  * the corpus (the radius-0 dedup key), and a Scala UDF would break
  * whole-stage codegen and pay a String materialization per row. This
  * implementation participates in codegen (`doGenCode` emits a direct
  * static call) and hashes the UTF8String's bytes in place — tokens split
  * on the 0x20 byte, which for UTF-8 is exactly a split on ' ' (multi-byte
  * code points never contain 0x20), so it is bit-identical to the Scala
  * kernel `Dedup.simhash64` (property-tested).
  */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash64 requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    SimHashImpl.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.SimHashImpl.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen-callable implementation (static forwarder emitted for Java). */
object SimHashImpl {
  def hash(s: UTF8String): Long = hashBytes(s.getBytes)

  /** SimHash over 0x20-separated tokens; per-token 64-bit FNV-1a + mix —
    * identical constants and structure to graft.ops.Dedup.{hash64,simhash64}.
    */
  def hashBytes(bytes: Array[Byte]): Long = {
    val counts = new Array[Int](64)
    var i = 0
    val n = bytes.length
    while (i <= n) {
      // token start
      var j = i
      var h = 0xcbf29ce484222325L
      while (j < n && bytes(j) != 0x20) {
        h = (h ^ (bytes(j) & 0xffL)) * 0x100000001b3L
        j += 1
      }
      if (j > i) { // non-empty token
        val mixed = mix64(h)
        var b = 0
        while (b < 64) {
          if (((mixed >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i = j + 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }
}

/** Registration surface for the engine's native functions. */
object GraftFunctions {
  /** Literal argument reader shared by every builder: checks the call's
    * total arity once and extracts a foldable literal at `idx`.
    */
  private def litOf(exprs: Seq[Expression], idx: Int, name: String, arity: Int): Any = {
    if (exprs.length != arity)
      throw new IllegalArgumentException(
        s"$name expects exactly $arity arguments, got ${exprs.length}")
    val e = exprs(idx)
    require(e.foldable, s"$name expects literal arguments")
    e.eval()
  }

  private def intArg(exprs: Seq[Expression], idx: Int, name: String, arity: Int = 2): Int =
    litOf(exprs, idx, name, arity) match {
      case i: Int => i
      case other => throw new IllegalArgumentException(
        s"$name: expected int literal, got ${if (other == null) "null"
          else s"$other of ${other.getClass.getSimpleName}"}")
    }

  private def longArg(exprs: Seq[Expression], idx: Int, name: String, arity: Int): Long =
    litOf(exprs, idx, name, arity) match {
      case l: Long => l
      case i: Int  => i.toLong
      case other =>
        throw new IllegalArgumentException(s"$name: expected long literal, got $other")
    }

  private def centroidsArg(
      exprs: Seq[Expression], idx: Int, name: String, arity: Int): Seq[Seq[Double]] =
    litOf(exprs, idx, name, arity) match {
      case ad: org.apache.spark.sql.catalyst.util.ArrayData =>
        ad.toObjectArray(ArrayType(DoubleType, containsNull = false)).toSeq.map {
          case inner: org.apache.spark.sql.catalyst.util.ArrayData =>
            inner.toDoubleArray().toSeq
          case other =>
            throw new IllegalArgumentException(s"$name: bad centroid row $other")
        }
      case other => throw new IllegalArgumentException(
        s"$name: expected array<array<double>> literal, got $other")
    }

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash64" -> ((exprs: Seq[Expression]) => SimHash64Expr(exprs.head)),
    "gopher_stats" -> ((exprs: Seq[Expression]) => GopherStatsExpr(exprs.head)),
    "shingle_hashes64" -> ((exprs: Seq[Expression]) =>
      ShingleHashes64Expr(exprs.head, intArg(exprs, 1, "shingle_hashes64"))),
    "minhash_sig" -> ((exprs: Seq[Expression]) =>
      MinHashSigExpr(exprs.head, intArg(exprs, 1, "minhash_sig"))),
    "minhash_bands" -> ((exprs: Seq[Expression]) =>
      MinHashBandsExpr(exprs.head, intArg(exprs, 1, "minhash_bands"))),
    "simhash_keys" -> ((exprs: Seq[Expression]) =>
      SimHashKeysExpr(exprs.head, intArg(exprs, 1, "simhash_keys"))),
    "sign_lsh_packed" -> ((exprs: Seq[Expression]) =>
      SignLshPackedExpr(exprs.head, longArg(exprs, 1, "sign_lsh_packed", 4),
        intArg(exprs, 2, "sign_lsh_packed", 4), intArg(exprs, 3, "sign_lsh_packed", 4))),
    "sign_lsh_probes" -> ((exprs: Seq[Expression]) =>
      SignLshProbesExpr(exprs.head, longArg(exprs, 1, "sign_lsh_probes", 4),
        intArg(exprs, 2, "sign_lsh_probes", 4), intArg(exprs, 3, "sign_lsh_probes", 4))),
    "ivf_cells" -> ((exprs: Seq[Expression]) =>
      IvfCellsExpr(exprs.head, centroidsArg(exprs, 1, "ivf_cells", 3),
        intArg(exprs, 2, "ivf_cells", 3)))
  )

  /** Inject every native function into a SparkSessionExtensions hook. */
  def injectInto(ext: SparkSessionExtensions): Unit =
    builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[SimHash64Expr].getName, name),
        builder))
    }

  /** Register into an existing session (temp functions). */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }

  /** Column-API forms (resolve the registered functions). */
  def simhash64(c: Column): Column =
    org.apache.spark.sql.functions.call_function("simhash64", c)
  def gopherStats(c: Column): Column =
    org.apache.spark.sql.functions.call_function("gopher_stats", c)
  def shingleHashes64(c: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "shingle_hashes64", c, org.apache.spark.sql.functions.lit(n))
  def minhashSig(c: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "minhash_sig", c, org.apache.spark.sql.functions.lit(k))
  def minhashBands(c: Column, bands: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "minhash_bands", c, org.apache.spark.sql.functions.lit(bands))
  def simhashKeys(c: Column, radius: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "simhash_keys", c, org.apache.spark.sql.functions.lit(radius))
  def signLshPacked(c: Column, seed: Long, planes: Int, tables: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "sign_lsh_packed", c, org.apache.spark.sql.functions.lit(seed),
      org.apache.spark.sql.functions.lit(planes), org.apache.spark.sql.functions.lit(tables))
  def signLshProbes(c: Column, seed: Long, planes: Int, tables: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "sign_lsh_probes", c, org.apache.spark.sql.functions.lit(seed),
      org.apache.spark.sql.functions.lit(planes), org.apache.spark.sql.functions.lit(tables))
  def ivfCells(c: Column, centroids: Seq[Seq[Double]], nProbe: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "ivf_cells", c, org.apache.spark.sql.functions.typedlit(centroids),
      org.apache.spark.sql.functions.lit(nProbe))
}

/** `spark.sql.extensions=graft.expressions.GraftExtensions` injector. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    // the injector surface must track the register() surface exactly — a
    // session configured via spark.sql.extensions gets every native function
    GraftFunctions.injectInto(ext)
}
