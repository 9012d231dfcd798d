package graft.expressions

import graft.functions.Text
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hash-sketch hot path.
  *
  * The HOF formulation (`transform`/`aggregate` lambdas) walks an
  * interpreted expression tree per array element per hash function —
  * ~12k tree evaluations per document for a 64-hash signature. These
  * expressions run the same math as one compiled per-row loop (~50×
  * faster measured at sf0.1), which is what makes MinHash/SimHash viable
  * per-row costs at 100 TB. Registered via [[GraftExtensions]]
  * (`spark.sql.extensions=graft.expressions.GraftExtensions`).
  *
  * Semantics match the documented sketch definitions exactly:
  * h_i(x) = (a_i * (xxhash64(x) mod p) + b_i) mod p over the shingle set,
  * p = 2^31 - 1, coefficients from [[Text.minhashCoefficients]].
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_signature expects array<string>, got ${other.sql}")
    }

  @transient private lazy val coeffA: Array[Long] =
    Text.minhashCoefficients(numHashes).map(_._1).toArray
  @transient private lazy val coeffB: Array[Long] =
    Text.minhashCoefficients(numHashes).map(_._2).toArray

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val p = Text.MinhashPrime
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h0 = XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
        val h = java.lang.Math.floorMod(h0, p)
        var j = 0
        while (j < numHashes) {
          val v = java.lang.Math.floorMod(coeffA(j) * h + coeffB(j), p)
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
  override def prettyName: String = "graft_minhash_signature"
}

/** 64-bit SimHash over a shingle array: bit j of the result is the sign of
  * the sum over shingles of ±1 by bit j of xxhash64(shingle, seed 42).
  */
case class SimHash64(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 expects array<string>, got ${other.sql}")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sums = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) {
      if (sums(j) > 0) fp |= (1L << j)
      j += 1
    }
    fp
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "graft_simhash64"
}

/** Word n-gram shingles of a normalized text in one compiled pass:
  * lowercase, strip non-alphanumerics, collapse whitespace, tokenize, and
  * emit the sliding n-token windows. Equivalent to
  * `transform(sequence(...), i -> concat_ws(' ', slice(tokens, i, n)))`
  * over `normalizeForDedup`, which costs ~|tokens| interpreted lambda
  * evaluations plus an array copy per shingle — the dominant cost of every
  * shingle-based sketch before this expression existed.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_word_shingles expects string, got ${other.sql}")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    // normalize: lowercase, non-[a-z0-9] (after lowering) → space, then
    // tokenize on runs of whitespace — matches the regex normalization
    // (`[^a-z0-9\s]` → ' ', `\s+` → ' ', trim) for any input
    val tokens = new scala.collection.mutable.ArrayBuffer[String](64)
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    while (i < text.length) {
      val c = Character.toLowerCase(text.charAt(i))
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
      else if (sb.length > 0) { tokens += sb.toString; sb.setLength(0) }
      i += 1
    }
    if (sb.length > 0) tokens += sb.toString
    val count = tokens.length - (n - 1)
    if (count <= 0) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](count)
      var j = 0
      while (j < count) {
        val shingle = new java.lang.StringBuilder(16 * n)
        var k = 0
        while (k < n) {
          if (k > 0) shingle.append(' ')
          shingle.append(tokens(j + k))
          k += 1
        }
        out(j) = UTF8String.fromString(shingle.toString)
        j += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
  override def prettyName: String = "graft_word_shingles"
}

/** Exact Jaccard similarity of two string arrays as one compiled pass:
  * one hash set for the left array, one probe pass over the right. The
  * composed `array_intersect`/`array_union` form builds three hash sets
  * per pair — on an all-pairs similarity join this expression is the
  * difference between the verify stage scaling or not.
  */
case class JaccardSimilarity(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_jaccard expects two array<string> inputs, got $other")
    }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val setA = new java.util.HashSet[UTF8String](Math.max(8, a.numElements() * 2))
    var i = 0
    while (i < a.numElements()) {
      if (!a.isNullAt(i)) setA.add(a.getUTF8String(i))
      i += 1
    }
    val seenB = new java.util.HashSet[UTF8String](Math.max(8, b.numElements() * 2))
    var inter = 0L
    i = 0
    while (i < b.numElements()) {
      if (!b.isNullAt(i)) {
        val s = b.getUTF8String(i)
        if (seenB.add(s) && setA.contains(s)) inter += 1
      }
      i += 1
    }
    val union = setA.size.toLong + seenB.size.toLong - inter
    if (union == 0L) 0.0 else inter.toDouble / union.toDouble
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSimilarity =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_jaccard"
}

/** Session extension registering the sketch functions for SQL and
  * `call_function` use. Enable with
  * `spark.sql.extensions=graft.expressions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // injected into the operator-optimization FIXED POINT, so the built-in
    // simplification rules re-run after the fold (see the rule's scaladoc)
    ext.injectOptimizerRule(_ => ElideJsonRoundtrip)
    val rawInject = ext.injectFunction _
    // ALSO register in the static builtin registry: session-injected
    // functions count as TEMPORARY objects, which Spark refuses inside
    // persistent views (INVALID_TEMP_OBJ_REFERENCE) — the reference's
    // warehouse views use the dialect functions freely
    // (`4_dwh_core/v_daily_kpi_cost_targets.sql`).
    def injectFunction(
        fn: (org.apache.spark.sql.catalyst.FunctionIdentifier, ExpressionInfo,
          Seq[Expression] => Expression)): Unit = {
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
        .registerFunction(fn._1, fn._2, fn._3)
      rawInject(fn)
    }
    injectFunction((
      FunctionIdentifier("graft_minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash_signature"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_minhash_signature(shingles, numHashes)")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"numHashes must be an integer literal, got $other")
        }
        MinHashSignature(children.head, n)
      }))
    injectFunction((
      FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash64"),
      (children: Seq[Expression]) => SimHash64(children.head)))
    injectFunction((
      FunctionIdentifier("graft_jaccard"),
      new ExpressionInfo(classOf[JaccardSimilarity].getName, "graft_jaccard"),
      (children: Seq[Expression]) => JaccardSimilarity(children(0), children(1))))
    injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[VectorCosine].getName, "graft_cosine"),
      (children: Seq[Expression]) => VectorCosine(children(0), children(1))))
    injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "graft_dot"),
      (children: Seq[Expression]) => VectorDot(children(0), children(1))))
    injectFunction((
      FunctionIdentifier("graft_l2"),
      new ExpressionInfo(classOf[VectorL2].getName, "graft_l2"),
      (children: Seq[Expression]) => VectorL2(children(0), children(1))))
    injectFunction((
      FunctionIdentifier("graft_hyperplane_sig"),
      new ExpressionInfo(classOf[HyperplaneSig].getName, "graft_hyperplane_sig"),
      (children: Seq[Expression]) => {
        require(children.size == 3, "graft_hyperplane_sig(vec, numBits, dim)")
        val Seq(bits, dim) = children.tail.map {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"numBits/dim must be integer literals, got $other")
        }
        HyperplaneSig(children.head, bits, dim)
      }))
    injectFunction((
      FunctionIdentifier("graft_lang_id"),
      new ExpressionInfo(classOf[LangId].getName, "graft_lang_id"),
      (children: Seq[Expression]) => LangId(children.head)))
    injectFunction((
      FunctionIdentifier("graft_punct_ratio"),
      new ExpressionInfo(classOf[CharClassRatio].getName, "graft_punct_ratio"),
      (children: Seq[Expression]) => CharClassRatio(children.head, punct = true)))
    injectFunction((
      FunctionIdentifier("graft_alpha_ratio"),
      new ExpressionInfo(classOf[CharClassRatio].getName, "graft_alpha_ratio"),
      (children: Seq[Expression]) => CharClassRatio(children.head, punct = false)))
    injectFunction((
      FunctionIdentifier("graft_stopword_ratio"),
      new ExpressionInfo(classOf[TokenStatRatio].getName, "graft_stopword_ratio"),
      (children: Seq[Expression]) => TokenStatRatio(children.head, stopword = true)))
    injectFunction((
      FunctionIdentifier("graft_mean_word_len"),
      new ExpressionInfo(classOf[TokenStatRatio].getName, "graft_mean_word_len"),
      (children: Seq[Expression]) => TokenStatRatio(children.head, stopword = false)))
    injectFunction((
      FunctionIdentifier("graft_normalize_dedup"),
      new ExpressionInfo(classOf[NormalizeDedup].getName, "graft_normalize_dedup"),
      (children: Seq[Expression]) => NormalizeDedup(children.head)))
    injectFunction((
      FunctionIdentifier("graft_subword_count"),
      new ExpressionInfo(classOf[SubwordCount].getName, "graft_subword_count"),
      (children: Seq[Expression]) => SubwordCount(children.head)))
    injectFunction((
      FunctionIdentifier("graft_word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "graft_word_shingles"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_word_shingles(text, n)")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"n must be an integer literal, got $other")
        }
        WordShingles(children.head, n)
      }))
    RedshiftSqlFunctions.register(ext)
    // Redshift type names Spark's visitor rejects (see the parser)
    ext.injectParser((_, _) => new GraftParser)
    // Redshift implicit coercions (see the rule)
    ext.injectResolutionRule(_ => RedshiftCoercions)
    // Redshift query shapes and lateral aliases: marked or rewritten before
    // Resolution, resolved once the select's input is (see the rules)
    ext.injectHintResolutionRule(MarkRedshiftShapes)
    ext.injectResolutionRule(_ => ResolveRedshiftShapes)
    ext.injectHintResolutionRule(_ => MarkLateralAliases)
    ext.injectResolutionRule(_ => ResolveLateralAliases)
  }
}
