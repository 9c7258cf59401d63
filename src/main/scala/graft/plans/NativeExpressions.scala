package org.apache.spark.sql.graft

import graft.functions.TextFunctions
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, LongType, StringType, StructField, StructType, TypeCollection}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the sketching hot path.
  *
  * The higher-order-function formulations of SimHash/MinHash are
  * evaluated INTERPRETED by Spark (array lambdas never enter
  * whole-stage codegen), at microseconds per lambda step — k=64
  * permutations x ~10^2 shingles per document adds up to milliseconds
  * per row. These expressions generate (and interpret, as fallback) a
  * tight primitive loop instead: one pass over the hash array, all-long
  * arithmetic, no per-step boxing. Semantics are identical to the
  * TextFunctions HOF versions (pinned by NativeExprSpec).
  */
object NativeExpressions {
  def simhash64(hashes: Column): Column =
    ExpressionUtils.column(SimHash64Expr(ExpressionUtils.expression(hashes)))

  def minhashSignature(hashes: Column, k: Int): Column = {
    val params = TextFunctions.minhashParams(k)
    ExpressionUtils.column(MinHashSignatureExpr(
      ExpressionUtils.expression(hashes),
      params.map(_._1).toArray, params.map(_._2).toArray,
      TextFunctions.MinHashPrime))
  }

  def wordShingles(tokens: Column, n: Int): Column =
    ExpressionUtils.column(WordShinglesExpr(ExpressionUtils.expression(tokens), n))

  def md5Hashes64(strings: Column): Column =
    ExpressionUtils.column(Md5Hashes64Expr(ExpressionUtils.expression(strings)))

  def wordNgrams(tokens: Column, n: Int): Column =
    ExpressionUtils.column(WordNgramsExpr(ExpressionUtils.expression(tokens), n))

  def cdcChunks(tokens: Column, w: Int, divisor: Int): Column =
    ExpressionUtils.column(CdcChunksExpr(ExpressionUtils.expression(tokens), w, divisor))

  def markerHits(tokens: Column, words: Seq[String]): Column =
    ExpressionUtils.column(StringArrayHitsExpr(ExpressionUtils.expression(tokens), words.toArray))

  def vecDot(a: Column, b: Column): Column =
    ExpressionUtils.column(VecDotExpr(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def vecCosine(a: Column, b: Column): Column =
    ExpressionUtils.column(VecCosineExpr(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def charEntropy(text: Column): Column =
    ExpressionUtils.column(CharEntropyExpr(ExpressionUtils.expression(text)))

  def jaroWinkler(a: Column, b: Column): Column =
    ExpressionUtils.column(JaroWinklerExpr(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def nfcNormalize(text: Column): Column =
    ExpressionUtils.column(NfcNormalizeExpr(ExpressionUtils.expression(text)))

  def stripAccents(text: Column): Column =
    ExpressionUtils.column(StripAccentsExpr(ExpressionUtils.expression(text)))

  /** struct(score, id) of `v`'s nearest centroid in `group` of `codebook`. */
  def nearestCentroid(v: Column, group: Column, codebook: Codebook, l2: Boolean): Column =
    ExpressionUtils.column(NearestCentroidExpr(
      ExpressionUtils.expression(v), ExpressionUtils.expression(group), codebook, l2))

  /** array<struct(score, id)> of `v`'s `n` nearest centroids over the
    * union of `groups` (a long key or an array of keys) of `codebook`. */
  def nearestCentroids(v: Column, groups: Column, codebook: Codebook, n: Int,
                       l2: Boolean): Column =
    ExpressionUtils.column(NearestCentroidExpr(
      ExpressionUtils.expression(v), ExpressionUtils.expression(groups), codebook, l2, Some(n)))

  def signLshBucket(v: Column, planes: Array[Array[Double]]): Column =
    ExpressionUtils.column(SignLshBucketExpr(
      ExpressionUtils.expression(v), planes.flatten, planes.length,
      if (planes.isEmpty) 0 else planes.head.length))

  /** Membership probe against a serialized `org.apache.spark.util.sketch.
    * BloomFilter`, via Spark's own codegen'd `BloomFilterMightContain`
    * (the expression behind the runtime-filter optimization). `value`
    * must be a LongType column — hash non-long keys with xxhash64, the
    * same digest `DataFrameStatFunctions.bloomFilter` puts for longs. */
  def bloomMightContain(bloom: Array[Byte], value: Column): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bloom, org.apache.spark.sql.types.BinaryType),
        ExpressionUtils.expression(value)))

  private def buildMinhash(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2 && exprs(1).foldable,
      "minhash_signature(hashes, k): k must be a literal integer")
    val k = exprs(1).eval() match {
      case i: Int  => i
      case l: Long => l.toInt
      case other   => throw new IllegalArgumentException(s"minhash k: $other")
    }
    val params = TextFunctions.minhashParams(k)
    MinHashSignatureExpr(exprs.head,
      params.map(_._1).toArray, params.map(_._2).toArray, TextFunctions.MinHashPrime)
  }

  /** (name, builder) pairs for SQL registration. */
  private val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash64" -> (exprs => SimHash64Expr(exprs.head)),
    "md5_hashes64" -> (exprs => Md5Hashes64Expr(exprs.head)),
    "minhash_signature" -> buildMinhash _,
    "vec_dot" -> (exprs => VecDotExpr(exprs(0), exprs(1))),
    "vec_cosine" -> (exprs => VecCosineExpr(exprs(0), exprs(1))),
    "word_shingles" -> (exprs => WordShinglesExpr(exprs(0), exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"word_shingles: n must be an integer literal, got $other")
    })),
    // ---- mergeable sketch family (aggregates + scalar extractors) ----
    // optional-second-arg pattern: the size parameter must be an
    // integer literal (sketch layouts are compile-time shapes)
    "kll_sketch_agg" -> (exprs => KllSketchAggExpr(exprs.head,
      intLitArg(exprs, 1, "kll_sketch_agg k", KllFunctions.DefaultK))
      .toAggregateExpression()),
    "kll_merge_agg" -> (exprs => KllMergeAggExpr(exprs.head,
      intLitArg(exprs, 1, "kll_merge_agg k", KllFunctions.DefaultK))
      .toAggregateExpression()),
    "theta_sketch_agg" -> (exprs => ThetaSketchAggExpr(exprs.head,
      intLitArg(exprs, 1, "theta_sketch_agg nominal", ThetaFunctions.DefaultNominal))
      .toAggregateExpression()),
    "theta_union_agg" -> (exprs => ThetaUnionAggExpr(exprs.head,
      intLitArg(exprs, 1, "theta_union_agg nominal", ThetaFunctions.DefaultNominal))
      .toAggregateExpression()),
    "kll_quantiles" -> (exprs => KllQuantilesExpr(exprs.head, exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.CreateArray(cs, _)
          if cs.forall(_.foldable) =>
        cs.map(_.eval() match {
          case d: java.lang.Double => d.doubleValue()
          case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
          case other => throw new IllegalArgumentException(
            s"kll_quantiles: rank must be numeric, got $other")
        }).toArray
      case other => throw new IllegalArgumentException(
        s"kll_quantiles: ranks must be an array literal, got $other")
    })),
    "theta_estimate" -> (exprs => ThetaEstimateExpr(exprs.head)),
    "theta_intersect_estimate" ->
      (exprs => ThetaIntersectEstimateExpr(exprs(0), exprs(1))),
    "freq_sketch_agg" -> (exprs => FreqSketchAggExpr(exprs.head,
      intLitArg(exprs, 1, "freq_sketch_agg maxMapSize", FreqFunctions.DefaultMapSize))
      .toAggregateExpression()),
    "freq_merge_agg" -> (exprs => FreqMergeAggExpr(exprs.head,
      intLitArg(exprs, 1, "freq_merge_agg maxMapSize", FreqFunctions.DefaultMapSize))
      .toAggregateExpression()),
    "freq_estimate" -> (exprs => FreqEstimateExpr(exprs(0), exprs(1))),
    "freq_max_error" -> (exprs => FreqMaxErrorExpr(exprs.head)),
    "gramian_agg" -> (exprs => GramianAggExpr(exprs.head,
      intLitArg(exprs, 1, "gramian_agg d", -1)).toAggregateExpression()),
    "vec_sum_agg" -> (exprs => VecSumAggExpr(exprs.head,
      intLitArg(exprs, 1, "vec_sum_agg d", -1)).toAggregateExpression()),
    "jaro_winkler" -> (exprs => JaroWinklerExpr(exprs(0), exprs(1))),
    "nfc_normalize" -> (exprs => NfcNormalizeExpr(exprs.head)),
    "strip_accents" -> (exprs => StripAccentsExpr(exprs.head)))

  /** Integer-literal argument at `pos`, or `dflt` when absent
    * (dflt < 0 means required). */
  private def intLitArg(exprs: Seq[Expression], pos: Int, what: String,
                        dflt: Int): Int =
    exprs.lift(pos) match {
      case Some(org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)) => v
      case None if dflt >= 0 => dflt
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }

  /** Register the native expressions as SQL functions on an existing
    * session (`SELECT simhash64(...) FROM ...`). The
    * `graft.GraftExtensions` class does the same at session build via
    * spark.sql.extensions. */
  def registerSql(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    sqlFunctions.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  /** Hook for SparkSessionExtensions-based injection. */
  def injectInto(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
  }
}

/** Distinct word n-gram shingles of an array<string> of tokens, joined
  * with single spaces, first-occurrence order — identical semantics to
  * TextFunctions.shingles (pinned by NativeExprSpec) but one compiled
  * pass per row instead of interpreted per-window lambdas rebuilding
  * slices. CodegenFallback: the eval body is plain compiled JVM code,
  * which is what removes the per-step expression-interpreter overhead;
  * generated-source inlining would buy little more here. */
case class WordShinglesExpr(child: Expression, n: Int)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  require(n > 0, "shingles: n must be positive")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val num = arr.numElements()
    if (num < n) new GenericArrayData(Array.empty[Any])
    else {
      val seen = new java.util.LinkedHashSet[UTF8String]()
      val sep = UTF8String.fromString(" ")
      var i = 0
      while (i <= num - n) {
        val parts = new Array[UTF8String](n)
        var j = 0
        while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
        seen.add(UTF8String.concatWs(sep, parts: _*))
        i += 1
      }
      new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size())))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpr =
    copy(child = newChild)
}

/** All word n-grams IN ORDER, one per position (no dedup) — the
  * occurrence-weighted companion to WordShinglesExpr for frequency/
  * language-model statistics, where every repeat must count. Same
  * compiled single pass, minus the seen-set. */
case class WordNgramsExpr(child: Expression, n: Int)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  require(n > 0, "ngrams: n must be positive")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val num = arr.numElements()
    if (num < n) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](num - n + 1)
      val sep = UTF8String.fromString(" ")
      var i = 0
      while (i <= num - n) {
        val parts = new Array[UTF8String](n)
        var j = 0
        while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
        out(i) = UTF8String.concatWs(sep, parts: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): WordNgramsExpr =
    copy(child = newChild)
}

/** Content-defined chunks of a token array (the LBFS/rsync cut rule):
  * a boundary falls after token i+w-1 wherever the rolling w-token
  * polynomial hash satisfies `hash % divisor == 0`, making boundaries a
  * pure function of LOCAL content — chunks realign after insertions,
  * the case fixed-width chunking misses. One compiled pass per row;
  * the hash arithmetic (base 31 per code point, base 1000003 per token
  * hash, mod 1e9+7, Horner with mod at each step) is chosen so external
  * engines reproduce chunk strings bit-for-bit in plain SQL (the
  * `cdc_chunks` oracle). A cut at the very last token is suppressed
  * (it would produce an empty tail chunk). Arrays shorter than the
  * hash window `w` come back as ONE whole-array chunk (no boundary can
  * fire), so no document content is ever silently dropped. */
case class CdcChunksExpr(child: Expression, w: Int, divisor: Int)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  require(w > 0 && divisor > 1, "cdc_chunks: w > 0, divisor > 1")

  private val M = 1000000007L
  private val P = 1000003L

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "cdc_chunks"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val num = arr.numElements()
    if (num == 0) new GenericArrayData(Array.empty[Any])
    else if (num < w) {
      // Shorter than one hash window: no boundary can fire, so the
      // whole token array is a single chunk. (Returning [] here would
      // silently DROP the document's content for direct SQL users; the
      // DuckDB oracle and Dedup.contentDefinedChunks agree on this.)
      val sep = UTF8String.fromString(" ")
      val toks = (0 until num).map(arr.getUTF8String)
      new GenericArrayData(Array[Any](UTF8String.concatWs(sep, toks: _*)))
    } else {
      val toks = new Array[UTF8String](num)
      val th = new Array[Long](num)
      var i = 0
      while (i < num) {
        toks(i) = arr.getUTF8String(i)
        val s = toks(i).toString
        var acc = 0L
        var k = 0
        while (k < s.length) {
          val cp = s.codePointAt(k)
          acc = (acc * 31L + cp) % M
          k += Character.charCount(cp)
        }
        th(i) = acc
        i += 1
      }
      val sep = UTF8String.fromString(" ")
      val out = new scala.collection.mutable.ArrayBuffer[Any]()
      var start = 0
      i = 0
      while (i <= num - w) {
        var wh = 0L
        var j = 0
        while (j < w) { wh = (wh * P + th(i + j)) % M; j += 1 }
        val cut = i + w // token count before the boundary
        if (wh % divisor == 0 && cut < num) {
          out += UTF8String.concatWs(sep, toks.slice(start, cut).toIndexedSeq: _*)
          start = cut
        }
        i += 1
      }
      out += UTF8String.concatWs(sep, toks.slice(start, num).toIndexedSeq: _*)
      new GenericArrayData(out.toArray)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): CdcChunksExpr =
    copy(child = newChild)
}

/** Occurrence count of tokens that appear in a fixed word list —
  * repeated hits count every time (TextFunctions.wordHits semantics).
  * Hash-set membership per token instead of an interpreted
  * array_contains lambda scanning the literal list per element. */
case class StringArrayHitsExpr(child: Expression, words: Array[String])
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "marker_hits"

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.length * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val num = arr.numElements()
    var hits = 0
    var i = 0
    while (i < num) {
      val t = arr.getUTF8String(i)
      if (t != null && set.contains(t)) hits += 1
      i += 1
    }
    hits
  }

  override protected def withNewChildInternal(newChild: Expression): StringArrayHitsExpr =
    copy(child = newChild)
}

/** md5-derived 64-bit hashes of an array<string>: per element, the
  * first 8 md5 bytes as a signed big-endian long — bit-identical to
  * TextFunctions.portableHash64 (pinned by NativeExprSpec), but one
  * compiled pass per row with a thread-local digest instead of an
  * interpreted per-element HOF lambda of md5/substring/conv string
  * ops. Engine-portable by construction: first 16 hex chars of md5 =
  * these 8 bytes, so any engine with md5 reproduces the value. */
case class Md5Hashes64Expr(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_hashes64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val num = arr.numElements()
    val md = Md5Hashes64Expr.digest.get()
    val out = new Array[Any](num)
    var i = 0
    while (i < num) {
      md.reset()
      val d = md.digest(arr.getUTF8String(i).getBytes)
      var v = 0L
      var j = 0
      while (j < 8) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
      out(i) = v
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Md5Hashes64Expr =
    copy(child = newChild)
}

object Md5Hashes64Expr {
  /** MessageDigest is stateful and not thread-safe; one per task thread. */
  private val digest: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }
}

/** 64-bit SimHash of an array<bigint> of token/shingle hashes: bit b of
  * the result is set iff more element hashes have bit b set than not
  * (+1/-1 votes, strict majority). */
case class SimHash64Expr(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 64) {
        votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      s"""
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  long $h = $c.getLong($i);
         |  for (int $b = 0; $b < 64; $b++) {
         |    $votes[$b] += ((($h >>> $b) & 1L) == 1L) ? 1 : -1;
         |  }
         |}
         |${ev.value} = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($votes[$b] > 0) ${ev.value} |= (1L << $b);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** k-wide MinHash signature of an array<bigint> of hashes already
  * reduced into [0, prime): out(p) = min over h of (h*a_p + b_p) mod
  * prime, or the `prime` sentinel for an empty array. Equivalent to the
  * staged HOF formulation but a single fused loop. */
case class MinHashSignatureExpr(child: Expression, as: Array[Long], bs: Array[Long], prime: Long)
  extends UnaryExpression with ExpectsInputTypes {

  require(as.length == bs.length && as.nonEmpty, "minhash: mismatched permutation params")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val k = as.length
    val out = Array.fill(k)(prime)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var p = 0
      while (p < k) {
        val v = (h * as(p) + bs(p)) % prime
        if (v < out(p)) out(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("as", as, "long[]")
    val bsRef = ctx.addReferenceObj("bs", bs, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val k = as.length
      s"""
         |long[] $out = new long[$k];
         |java.util.Arrays.fill($out, ${prime}L);
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  long $h = $c.getLong($i);
         |  for (int $p = 0; $p < $k; $p++) {
         |    long $v = ($h * $asRef[$p] + $bsRef[$p]) % ${prime}L;
         |    if ($v < $out[$p]) $out[$p] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignatureExpr =
    copy(child = newChild)
}

/** Shared element accessors for float/double embedding arrays: the
  * vector expressions accept `array<float>` (parquet embeddings) and
  * `array<double>` (literal hyperplanes) on either side. */
private[graft] object VecTypes {
  val anyVec: AbstractDataType = TypeCollection(ArrayType(FloatType), ArrayType(DoubleType))

  def isFloat(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  def get(arr: ArrayData, i: Int, float: Boolean): Double =
    if (float) arr.getFloat(i).toDouble else arr.getDouble(i)

  /** Codegen fragment reading element `i` of `v` as double. */
  def getCode(v: String, i: String, float: Boolean): String =
    if (float) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
}

/** Dot product of two numeric arrays in double precision, strict
  * left-to-right summation — bit-identical to the
  * `aggregate(zip_with(a, b, x*y), 0.0, +)` HOF formulation (pinned by
  * NativeExprSpec) and to DuckDB's sequential `list_dot_product`, but
  * one fused compiled loop instead of ~3 interpreted lambda steps per
  * element. Null out (like the HOF chain) on length mismatch or any
  * null element. */
case class VecDotExpr(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(VecTypes.anyVec, VecTypes.anyVec)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  @transient private lazy val lFloat = VecTypes.isFloat(left.dataType)
  @transient private lazy val rFloat = VecTypes.isFloat(right.dataType)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += VecTypes.get(a, i, lFloat) * VecTypes.get(b, i, rFloat)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $a.numElements(); $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ${VecTypes.getCode(a, i, lFloat)} * ${VecTypes.getCode(b, i, rFloat)};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDotExpr =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity in one pass: three running sums (a.b, a.a, b.b),
  * each strict left-to-right, then dot / (sqrt(na) * sqrt(nb)) — the
  * identical IEEE expression the staged HOF version evaluates, so
  * results are bit-equal (NativeExprSpec pins it). Nulls mirror the HOF
  * chain: length mismatch, null element, or a zero norm (Spark's
  * double division by zero yields null) all null out. */
case class VecCosineExpr(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(VecTypes.anyVec, VecTypes.anyVec)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_cosine"

  @transient private lazy val lFloat = VecTypes.isFloat(left.dataType)
  @transient private lazy val rFloat = VecTypes.isFloat(right.dataType)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = VecTypes.get(a, i, lFloat)
      val y = VecTypes.get(b, i, rFloat)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $a.numElements(); $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $x = ${VecTypes.getCode(a, i, lFloat)};
         |    double $y = ${VecTypes.getCode(b, i, rFloat)};
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |    if ($denom == 0.0) { ${ev.isNull} = true; } else { ${ev.value} = $dot / $denom; }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecCosineExpr =
    copy(left = newLeft, right = newRight)
}

/** Sign-LSH bucket id in one pass over the vector: bit p of the result
  * is set iff v . planes(p) >= 0. The planes ride along as one flat
  * double[] reference object (bits x dim). Semantics mirror the HOF
  * formulation (`when(dotd(v, plane_p) >= 0, 1L << p)` summed): a
  * length-mismatched or null-element vector yields a null dot, whose
  * `>= 0` is false -> bit 0 -> bucket 0; a NaN dot compares TRUE under
  * Spark's NaN ordering (NaN > everything) -> bit set. Pinned by
  * NativeExprSpec. */
case class SignLshBucketExpr(child: Expression, planes: Array[Double], bits: Int, dim: Int)
  extends UnaryExpression with ExpectsInputTypes {

  require(bits > 0 && bits <= 63, s"signLshBucket: bits must be in [1, 63], got $bits")
  require(planes.length == bits * dim, "signLshBucket: planes must be bits x dim")

  override def inputTypes: Seq[AbstractDataType] = Seq(VecTypes.anyVec)
  override def dataType: DataType = LongType
  override def prettyName: String = "sign_lsh_bucket"

  @transient private lazy val vFloat = VecTypes.isFloat(child.dataType)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dim) return 0L
    var i = 0
    while (i < dim) { if (v.isNullAt(i)) return 0L; i += 1 }
    var bucket = 0L
    var p = 0
    while (p < bits) {
      var dot = 0.0
      var d = 0
      val off = p * dim
      while (d < dim) {
        dot += VecTypes.get(v, d, vFloat) * planes(off + d)
        d += 1
      }
      // NaN >= 0 is TRUE under Spark's NaN-greatest ordering
      if (dot >= 0.0 || java.lang.Double.isNaN(dot)) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val dot = ctx.freshName("dot")
      val ok = ctx.freshName("ok")
      s"""
         |${ev.value} = 0L;
         |boolean $ok = $v.numElements() == $dim;
         |if ($ok) {
         |  for (int $i = 0; $i < $dim; $i++) {
         |    if ($v.isNullAt($i)) { $ok = false; break; }
         |  }
         |}
         |if ($ok) {
         |  for (int $p = 0; $p < $bits; $p++) {
         |    double $dot = 0.0;
         |    for (int $d = 0; $d < $dim; $d++) {
         |      $dot += ${VecTypes.getCode(v, d, vFloat)} * $planesRef[$p * $dim + $d];
         |    }
         |    if ($dot >= 0.0 || java.lang.Double.isNaN($dot)) ${ev.value} |= (1L << $p);
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SignLshBucketExpr =
    copy(child = newChild)
}

/** A codebook as data for [[NearestCentroidExpr]]: `n` centroids of
  * one dimension `dim`, row-major in one double[], their ids in a
  * long[], and per-group offsets — group `groupKeys(g)` (ascending)
  * owns entries `offsets(g)` until `offsets(g + 1)`. A flat codebook
  * is one group (key 0); PQ has one group per subspace; the two-level
  * tier one group per coarse cell. Centroid squared norms are
  * precomputed in the strict left-to-right order the per-pair
  * expressions sum them in, so every score is bit-equal to the per-pair
  * `VecCosineExpr`/`VecDotExpr` formulation. Generated code holds the
  * codebook as one reference object: no centroid count, value or id
  * ever reaches the compiled source. */
final class Codebook private (val dim: Int, vecs: Array[Double], ids: Array[Long],
    groupKeys: Array[Long], offsets: Array[Int]) extends Serializable {

  private val sq: Array[Double] = Array.tabulate(ids.length) { j =>
    var acc = 0.0
    var i = 0
    while (i < dim) { val c = vecs(j * dim + i); acc += c * c; i += 1 }
    acc
  }
  private val rootSq: Array[Double] = sq.map(java.lang.Math.sqrt)

  /** Does group `key` hold a centroid? */
  def hasGroup(key: Long): Boolean = java.util.Arrays.binarySearch(groupKeys, key) >= 0

  /** (6-dp rounded score, id) of `v`'s nearest centroid in group `key`,
    * or null when the group has no centroid: [[nearestN]] at n = 1. */
  def nearest(v: ArrayData, vFloat: Boolean, key: Long, l2: Boolean): InternalRow = {
    val t = top(v, vFloat, Array(key), 1, l2)
    if (t.count == 0) null else t.entry(0)
  }

  /** The `n` best (6-dp rounded score, id) entries over the union of the
    * groups `keys`, best first; keys with no centroid add nothing.
    * Cosine ranks score descending, squared L2 — `(x·x − 2·x·c) + c·c` —
    * ascending; equal scores go to the smaller id. A null,
    * length-mismatched or null-element vector, or a zero cosine
    * denominator, scores null. Nulls and NaNs rank as Spark orders
    * doubles (null below every number, NaN above), so the entries and
    * their order are exactly a `row_number` window's over
    * (score desc nulls last, id) — for L2, (score asc nulls first, id). */
  def nearestN(v: ArrayData, vFloat: Boolean, keys: ArrayData, n: Int, l2: Boolean): ArrayData = {
    val ks = (0 until keys.numElements()).filterNot(keys.isNullAt).map(keys.getLong).distinct
    val t = top(v, vFloat, ks.toArray, n, l2)
    new GenericArrayData(Array.tabulate[Any](t.count)(t.entry))
  }

  /** [[nearestN]] over the one group `key`. */
  def nearestN(v: ArrayData, vFloat: Boolean, key: Long, n: Int, l2: Boolean): ArrayData =
    nearestN(v, vFloat, new GenericArrayData(Array[Any](key)), n, l2)

  /** The one scoring loop: every centroid of the groups `keys` (distinct)
    * offered to an n-slot ranking under [[Top]]'s comparator. */
  private def top(v: ArrayData, vFloat: Boolean, keys: Array[Long], n: Int, l2: Boolean): Top = {
    require(n >= 1, "Codebook: n must be >= 1")
    var x: Array[Double] = null
    if (v != null && v.numElements() == dim) {
      x = new Array[Double](dim)
      var i = 0
      while (x != null && i < dim) {
        if (v.isNullAt(i)) x = null else x(i) = VecTypes.get(v, i, vFloat)
        i += 1
      }
    }
    var xx = 0.0
    if (x != null) { var i = 0; while (i < dim) { xx += x(i) * x(i); i += 1 } }
    val rootXx = java.lang.Math.sqrt(xx)
    val t = new Top(n, l2)
    var k = 0
    while (k < keys.length) {
      val g = java.util.Arrays.binarySearch(groupKeys, keys(k))
      var j = if (g < 0) 0 else offsets(g)
      val end = if (g < 0) 0 else offsets(g + 1)
      while (j < end) {
        var isNull = x == null
        var s = 0.0
        if (!isNull) {
          var xc = 0.0
          var i = 0
          val off = j * dim
          while (i < dim) { xc += x(i) * vecs(off + i); i += 1 }
          if (l2) s = Codebook.round6((xx - 2.0 * xc) + sq(j))
          else {
            val denom = rootXx * rootSq(j)
            if (denom == 0.0) isNull = true else s = Codebook.round6(xc / denom)
          }
        }
        t.offer(j, isNull, s)
        j += 1
      }
      k += 1
    }
    t
  }

  /** The best `n` centroid indices offered so far, kept sorted. */
  private final class Top(n: Int, l2: Boolean) {
    private val idx = new Array[Int](n)
    private val nul = new Array[Boolean](n)
    private val sc = new Array[Double](n)
    var count = 0

    /** The one comparator: does (aNull, a, ids(aj)) rank before
      * (bNull, b, ids(bj))? Null < every number; NaN > every number and
      * NaN == NaN; ties go to the smaller id. */
    private def before(aNull: Boolean, a: Double, aj: Int,
                       bNull: Boolean, b: Double, bj: Int): Boolean = {
      val cmp =
        if (aNull || bNull) java.lang.Boolean.compare(!aNull, !bNull)
        else if (a == b) 0
        else java.lang.Double.compare(a, b)
      if (cmp != 0) (if (l2) cmp < 0 else cmp > 0) else ids(aj) < ids(bj)
    }

    def offer(j: Int, isNull: Boolean, s: Double): Unit =
      if (count < n || before(isNull, s, j, nul(n - 1), sc(n - 1), idx(n - 1))) {
        var p = if (count < n) { count += 1; count - 1 } else n - 1
        while (p > 0 && before(isNull, s, j, nul(p - 1), sc(p - 1), idx(p - 1))) {
          idx(p) = idx(p - 1); nul(p) = nul(p - 1); sc(p) = sc(p - 1)
          p -= 1
        }
        idx(p) = j; nul(p) = isNull; sc(p) = s
      }

    def entry(i: Int): InternalRow = InternalRow(if (nul(i)) null else sc(i), ids(idx(i)))
  }
}

object Codebook {
  /** From (group, id, vector) entries; order within a group is free
    * (ties break on the id, not the position). */
  def apply(entries: Seq[(Long, Long, Seq[Double])]): Codebook = {
    val sorted = entries.sortBy(_._1).toIndexedSeq
    val dim = sorted.headOption.map(_._3.size).getOrElse(0)
    require(sorted.forall(_._3.size == dim), "Codebook: every centroid needs the same dimension")
    val starts = sorted.indices.filter(j => j == 0 || sorted(j)._1 != sorted(j - 1)._1)
    new Codebook(dim, sorted.flatMap(_._3).toArray, sorted.map(_._2).toArray,
      starts.map(sorted(_)._1).toArray, (starts :+ sorted.size).toArray)
  }

  /** One group (key 0) of (id, vector) centroids. */
  def flat(cents: Seq[(Long, Seq[Double])]): Codebook =
    apply(cents.map { case (id, v) => (0L, id, v) })

  /** Spark's `round(x, 6)` on doubles (HALF_UP on the shortest decimal
    * form; NaN and infinities pass through). */
  def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
}

/** Nearest centroid of `vec` within its group (a long key; null yields
  * null) of a [[Codebook]]: struct(score, id) under [[Codebook.nearest]],
  * or with `n` the n best as array<struct(score, id)> over the union of
  * the groups (a key or an array of keys) under [[Codebook.nearestN]].
  * `l2` picks squared-L2 argmin over cosine argmax. The interpreted and
  * the generated path call the same kernel, so they cannot disagree; the
  * generated code is the same few lines for every codebook and n.
  * NativeExprSpec pins it against the literal folds and the window. */
case class NearestCentroidExpr(left: Expression, right: Expression,
                               codebook: Codebook, l2: Boolean, n: Option[Int] = None)
  extends BinaryExpression with ExpectsInputTypes {

  require(n.forall(_ >= 1), s"nearest_centroid: n must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(VecTypes.anyVec,
    if (n.isEmpty) LongType else TypeCollection(LongType, ArrayType(LongType)))
  override def dataType: DataType =
    if (n.isEmpty) NearestCentroidExpr.ResultType
    else ArrayType(NearestCentroidExpr.ResultType, containsNull = false)
  // a literal key the codebook holds is never null, so a join on the id
  // infers no isnotnull filter that re-evaluates the scan below it
  override def nullable: Boolean = right match {
    case Literal(k: Long, LongType) => n.isEmpty && !codebook.hasGroup(k)
    case _ => right.nullable || n.isEmpty
  }
  override def prettyName: String = "nearest_centroid"

  @transient private lazy val vFloat = VecTypes.isFloat(left.dataType)

  override def eval(input: InternalRow): Any = {
    val v = left.eval(input).asInstanceOf[ArrayData]
    (right.eval(input), n) match {
      case (null, _) => null
      case (k, None) => codebook.nearest(v, vFloat, k.asInstanceOf[Long], l2)
      case (k: Long, Some(m)) => codebook.nearestN(v, vFloat, k, m, l2)
      case (ks, Some(m)) => codebook.nearestN(v, vFloat, ks.asInstanceOf[ArrayData], m, l2)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebook", codebook)
    val v = left.genCode(ctx)
    val k = right.genCode(ctx)
    val vec = s"${v.isNull} ? null : ${v.value}"
    // n rides as data too, so every n shares one generated body
    val call = n.fold(s"$cb.nearest($vec, $vFloat, ${k.value}, $l2)") { m =>
      val nRef = ctx.addReferenceObj("n", Int.box(m), "java.lang.Integer")
      s"$cb.nearestN($vec, $vFloat, ${k.value}, $nRef.intValue(), $l2)"
    }
    ev.copy(code = code"""
      ${v.code}
      ${k.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${k.isNull} ? null : $call;
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroidExpr =
    copy(left = newLeft, right = newRight)
}

object NearestCentroidExpr {
  val ResultType: StructType = StructType(Seq(
    StructField("score", DoubleType, nullable = true),
    StructField("id", LongType, nullable = false)))
}

/** Per-document character-unigram entropy in ONE compiled pass:
  * struct(entropy, n_distinct) from a code-point histogram built
  * row-side, replacing the explode(split(text, '')) shape that
  * shuffled one row PER CHARACTER (~corpus bytes x row overhead)
  * through a (doc, char) aggregation. ASCII fast path is a flat
  * 128-slot array; non-ASCII code points spill to a small hash map.
  * Same formula as the former aggregate — entropy = -sum (k/n) ln(k/n)
  * — term-for-term identical values, so the query-level 6-dp round
  * yields the same result the DuckDB oracle computes. */
case class CharEntropyExpr(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("entropy", DoubleType, nullable = false),
    org.apache.spark.sql.types.StructField("n_distinct", LongType, nullable = false)))
  override def prettyName: String = "char_entropy"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val ascii = new Array[Long](128)
    var other: java.util.HashMap[Integer, Array[Long]] = null
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      n += 1L
      if (cp < 128) ascii(cp) += 1L
      else {
        if (other == null) other = new java.util.HashMap[Integer, Array[Long]]()
        var cell = other.get(cp)
        if (cell == null) { cell = new Array[Long](1); other.put(cp, cell) }
        cell(0) += 1L
      }
    }
    val nd = n.toDouble
    var acc = 0.0
    var distinct = 0L
    var c = 0
    while (c < 128) {
      val k = ascii(c)
      if (k > 0L) { distinct += 1L; val p = k / nd; acc -= p * math.log(p) }
      c += 1
    }
    if (other != null) {
      val it = other.values().iterator()
      while (it.hasNext) {
        val k = it.next()(0)
        distinct += 1L
        val p = k / nd
        acc -= p * math.log(p)
      }
    }
    org.apache.spark.sql.catalyst.InternalRow(acc, distinct)
  }

  override protected def withNewChildInternal(newChild: Expression): CharEntropyExpr =
    copy(child = newChild)
}

/** Jaro-Winkler similarity between two strings — the standard
  * record-linkage comparator Spark lacks (it ships levenshtein only).
  * Semantics pinned to DuckDB's `jaro_winkler_similarity` so linkage
  * oracles compare digit-for-digit: code-point comparison, Jaro match
  * window floor(max/2)-1, half-transposition count, Winkler prefix
  * boost (<= 4 chars, scale 0.1) applied only when jaro > 0.7, and
  * 0.0 when either side is empty (INCLUDING both-empty — DuckDB
  * returns 0, not 1, there). One primitive pass, no regex, no boxing;
  * NativeExprSpec pins literal DuckDB reference values. */
case class JaroWinklerExpr(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "jaro_winkler"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[UTF8String].toString.codePoints().toArray
    val b = r.asInstanceOf[UTF8String].toString.codePoints().toArray
    val (la, lb) = (a.length, b.length)
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val aMatched = new Array[Boolean](la)
    val bMatched = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var hit = false
      while (j <= hi && !hit) {
        if (!bMatched(j) && a(i) == b(j)) {
          aMatched(i) = true; bMatched(j) = true; m += 1; hit = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: walk both matched subsequences in order
    var t = 0
    var j = 0
    i = 0
    while (i < la) {
      if (aMatched(i)) {
        while (!bMatched(j)) j += 1
        if (a(i) != b(j)) t += 1
        j += 1
      }
      i += 1
    }
    val jaro = (m.toDouble / la + m.toDouble / lb + (m - t / 2).toDouble / m) / 3.0
    if (jaro <= 0.7) jaro
    else {
      var p = 0
      while (p < math.min(4, math.min(la, lb)) && a(p) == b(p)) p += 1
      jaro + p * 0.1 * (1.0 - jaro)
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerExpr =
    copy(left = newLeft, right = newRight)
}

/** Unicode NFC normalization (java.text.Normalizer) — the
  * canonicalization pass multilingual corpora need before any
  * hash/dedup/fingerprint step treats visually-identical strings as
  * equal (é composed vs e+combining-accent hash differently raw).
  * Parity with DuckDB's `nfc_normalize` (both implement Unicode NFC). */
case class NfcNormalizeExpr(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      input.asInstanceOf[UTF8String].toString,
      java.text.Normalizer.Form.NFC))

  override protected def withNewChildInternal(newChild: Expression): NfcNormalizeExpr =
    copy(child = newChild)
}

/** Accent stripping: NFD-decompose, drop non-spacing combining marks,
  * NFC-recompose — 'café'→'cafe', 'Łódź'→'Łodz' (the stroke is part of
  * the base letter, not a mark, and survives — matching DuckDB's
  * `strip_accents`, verified on the reference set in NativeExprSpec).
  * The text-canonicalization companion of [[NfcNormalizeExpr]] for
  * dedup/linkage keys over multilingual text. */
case class StripAccentsExpr(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "strip_accents"

  override def nullSafeEval(input: Any): Any = {
    val nfd = java.text.Normalizer.normalize(
      input.asInstanceOf[UTF8String].toString, java.text.Normalizer.Form.NFD)
    val b = new java.lang.StringBuilder(nfd.length)
    var i = 0
    while (i < nfd.length) {
      val cp = nfd.codePointAt(i)
      if (Character.getType(cp) != Character.NON_SPACING_MARK) b.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    UTF8String.fromString(java.text.Normalizer.normalize(
      b.toString, java.text.Normalizer.Form.NFC))
  }

  override protected def withNewChildInternal(newChild: Expression): StripAccentsExpr =
    copy(child = newChild)
}
