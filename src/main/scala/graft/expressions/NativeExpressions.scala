package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot paths where higher-order
  * functions are too slow: HOF lambdas are interpreted per element (no
  * whole-stage codegen), so array-heavy kernels pay per-element virtual
  * dispatch plus intermediate array allocation. These expressions run the
  * same math as one tight JVM loop per row.
  *
  * Preference order per the design rules: compose built-ins first (done for
  * all parity operators); drop to a custom Expression only where measured —
  * dot products over 64-dim embeddings and per-document sketch signatures.
  */
object native {
  private val EU = org.apache.spark.sql.GraftBridge
  def dot_f(a: Column, b: Column): Column =
    EU.column(DotProductArray(EU.expression(a), EU.expression(b)))
  def minhash(text: Column, numHashes: Int, shingleSize: Int): Column =
    EU.column(TextMinHash(EU.expression(text), numHashes, shingleSize))
  def simhash64(text: Column): Column =
    EU.column(TextSimHash64(EU.expression(text)))
  def ngram_jaccard(a: Column, b: Column, n: Int): Column =
    EU.column(TextNGramJaccard(EU.expression(a), EU.expression(b), n))
  def shingle_hashes(text: Column, n: Int): Column =
    EU.column(TextShingleHashes(EU.expression(text), n))
  def sorted_jaccard(a: Column, b: Column): Column =
    EU.column(SortedJaccard(EU.expression(a), EU.expression(b)))
  def quality_score(text: Column, stopwords: Seq[String]): Column =
    EU.column(TextQualityScore(EU.expression(text), stopwords))
  def hyperplane_bucket(v: Column, numPlanes: Int, dim: Int): Column =
    EU.column(HyperplaneBucket(EU.expression(v), numPlanes, dim))
  def pq_encode(v: Column, books: Array[Array[Array[Double]]]): Column =
    EU.column(PqEncodeArray(EU.expression(v), books))
  def token_ngrams(text: Column, n: Int): Column =
    EU.column(TextTokenNGrams(EU.expression(text), n))
  def topk_by(score: Column, id: Column, k: Int): Column =
    EU.column(BoundedTopK(EU.expression(score), EU.expression(id), k)
      .toAggregateExpression())
  def ngram_repetition(text: Column, n: Int): Column =
    EU.column(TextNGramRepetition(EU.expression(text), n))
  def adc_score(q: Column, codes: Column,
                books: Array[Array[Array[Double]]]): Column =
    EU.column(AdcScore(EU.expression(q), EU.expression(codes), books))
  def field_reduce(arr: Column, field: String, op: String): Column =
    EU.column(StructFieldReduce(EU.expression(arr), field, op))
  def field_counteq(arr: Column, field: String, value: String): Column =
    EU.column(StructFieldCountEq(EU.expression(arr), field, value))
}

/** Sequential-fold dot product over two numeric arrays, accumulated in
  * double — bit-identical to the HOF `aggregate(zip_with(...))` formulation
  * (and to DuckDB's list_sum fold), so swapping it in preserves oracle
  * hashes. Whole-stage codegen via doGenCode: the loop inlines into the
  * surrounding stage. Array elements must be non-null. Mismatched lengths
  * return NULL (matching `zip_with`'s null-padding → null sum), never a
  * silently-truncated partial product. */
case class DotProductArray(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(a: NumericType, _), ArrayType(b: NumericType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"dot_f expects two numeric arrays, got $other")
    }
  override def dataType: DataType = DoubleType

  /** Java source for "element `i` of `a` as double" — covers every numeric
    * element type incl. DECIMAL (what SQL literals like array(1.0) infer). */
  private def elemAsDouble(e: Expression, a: String, i: String): String =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType   => s"(double)$a.getFloat($i)"
      case DoubleType  => s"$a.getDouble($i)"
      case IntegerType => s"(double)$a.getInt($i)"
      case LongType    => s"(double)$a.getLong($i)"
      case ShortType   => s"(double)$a.getShort($i)"
      case ByteType    => s"(double)$a.getByte($i)"
      case d: DecimalType =>
        s"$a.getDecimal($i, ${d.precision}, ${d.scale}).toDouble()"
      case other => throw new IllegalArgumentException(
        s"dot_f: unsupported element type $other")
    }

  private def reader(dt: DataType): (ArrayData, Int) => Double = dt match {
    case FloatType   => (a, i) => a.getFloat(i).toDouble
    case DoubleType  => (a, i) => a.getDouble(i)
    case IntegerType => (a, i) => a.getInt(i).toDouble
    case LongType    => (a, i) => a.getLong(i).toDouble
    case ShortType   => (a, i) => a.getShort(i).toDouble
    case ByteType    => (a, i) => a.getByte(i).toDouble
    case d: DecimalType =>
      (a, i) => a.getDecimal(i, d.precision, d.scale).toDouble
    case other => throw new IllegalArgumentException(
      s"dot_f: unsupported element type $other")
  }

  @transient private lazy val leftReader =
    reader(left.dataType.asInstanceOf[ArrayType].elementType)
  @transient private lazy val rightReader =
    reader(right.dataType.asInstanceOf[ArrayType].elementType)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      s += leftReader(x, i) * rightReader(y, i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName for EVERY local: several dot_f calls can land in the same
      // codegen scope (cosine = dot + two norms in one projection) and raw
      // names collide — janino "Redefinition of local variable", which threw
      // the whole stage back to interpreted mode on the write path.
      val n = ctx.freshName("dotN")
      val s = ctx.freshName("dotS")
      val i = ctx.freshName("dotI")
      s"""
        int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          double $s = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $s += ${elemAsDouble(left, a, i)} * ${elemAsDouble(right, b, i)};
          }
          ${ev.value} = $s;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** MinHash signature of a string's byte shingles: array<long> of length
  * `numHashes`, sig[k] = min over shingles of (h1 + k*h2) with 31-bit base
  * hashes (Kirsch–Mitzenmacher). One pass over the UTF-8 bytes, zero
  * allocation per shingle (hashes unsafe byte slices in place) — measured
  * ~20× over the HOF fold. Byte shingles == character shingles for ASCII.
  *
  * Codegen: the kernel stays a compiled JVM method invoked from generated
  * code via `addReferenceObj` — whole-stage codegen is NOT broken (a
  * CodegenFallback here forced the entire stage into interpreted mode). */
case class TextMinHash(child: Expression, numHashes: Int, shingleSize: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expects string, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private final val M = 2147483647L

  /** The tight loop, shared by interpreted eval and generated code. */
  def kernel(u: UTF8String): ArrayData = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val len = u.numBytes()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i + shingleSize <= len) {
      val r1 = XXH64.hashUnsafeBytes(base, off + i, shingleSize, 42L) % M
      val h1 = if (r1 < 0) r1 + M else r1
      val r2 = XXH64.hashUnsafeBytes(base, off + i, shingleSize, 7L) % M
      val h2 = if (r2 < 0) r2 + M else r2
      var k = 0
      while (k < numHashes) {
        val v = h1 + k * h2
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("textMinHash", this,
      classOf[TextMinHash].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.kernel($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Byte-shingle sets as sorted, distinct primitive `long` arrays: the ONE
  * shingle-set implementation behind [[TextShingleHashes]],
  * [[SortedJaccard]] and [[TextNGramJaccard]]. A shingle is `n`
  * consecutive UTF-8 bytes, hashed with XXH64 seed 42 (byte shingles ==
  * character shingles for ASCII text). Hash equality stands in for
  * shingle equality — collision probability ~2⁻⁶⁴, fine for a similarity
  * score. Sorting makes the set a plain array: no boxing, and two sets
  * intersect by one merge pass. */
object ShingleSets {

  /** Sorted distinct shingle hashes of `u`; empty when `u` is shorter
    * than `n` bytes. */
  def build(u: UTF8String, n: Int): UnsafeArrayData = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val hs = new Array[Long](math.max(u.numBytes() - n + 1, 0))
    var i = 0
    while (i < hs.length) {
      hs(i) = XXH64.hashUnsafeBytes(base, off + i, n, 42L)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var k = 0
    i = 0
    while (i < hs.length) {
      if (k == 0 || hs(i) != hs(k - 1)) { hs(k) = hs(i); k += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(hs, Platform.LONG_ARRAY_OFFSET, k, 8)
  }

  /** Jaccard of two [[build]] sets by a merge intersection. Two empty sets
    * (texts shorter than n) score 0.0, NOT 1.0: 1.0 made every short doc
    * verify as a near-dup of every other short doc — silent data loss
    * downstream in dedupNear. */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val (na, nb) = (a.numElements(), b.numElements())
    var inter = 0
    var i = 0
    var j = 0
    while (i < na && j < nb) {
      val (x, y) = (a.getLong(i), b.getLong(j))
      if (x < y) i += 1
      else if (y < x) j += 1
      else { inter += 1; i += 1; j += 1 }
    }
    val union = na + nb - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}

/** A document's byte-shingle set ([[ShingleSets.build]]) as a sorted,
  * distinct `array<long>` — built once per document so a verify join
  * compares two arrays per candidate pair ([[SortedJaccard]]) instead of
  * re-shingling both texts per pair. The array costs 8 bytes per distinct
  * shingle where the text costs ~1 byte per character, so a broadcast or
  * shuffle of the sets is up to ~8× the size of the texts. */
case class TextShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes expects a string, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def kernel(u: UTF8String): ArrayData = ShingleSets.build(u, n)

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleHashes", this,
      classOf[TextShingleHashes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Jaccard similarity of two [[TextShingleHashes]] arrays by one merge
  * pass ([[ShingleSets.jaccard]]). Only defined on sorted, distinct
  * arrays — the output of `shingle_hashes`. */
case class SortedJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"sorted_jaccard expects two array<long>, got $other")
    }
  override def dataType: DataType = DoubleType

  def kernel(a: ArrayData, b: ArrayData): Double = ShingleSets.jaccard(a, b)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sortedJaccard", this,
      classOf[SortedJaccard].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.kernel($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** n-gram Jaccard similarity of two strings: both texts' shingle sets are
  * built per call ([[ShingleSets]]), then merge-intersected — the same
  * values as [[SortedJaccard]] over [[TextShingleHashes]]. Right for a
  * one-off pair; a join that meets each document in many pairs should
  * build the sets once per document instead (`Dedup.verifiedPairs`). */
case class TextNGramJaccard(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (_: StringType, _: StringType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"expects two strings, got $other")
    }
  override def dataType: DataType = DoubleType

  /** The pairwise kernel, shared by interpreted eval and generated code. */
  def kernel(ua: UTF8String, ub: UTF8String): Double =
    ShingleSets.jaccard(ShingleSets.build(ua, n), ShingleSets.build(ub, n))

  override protected def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("textNGramJaccard", this,
      classOf[TextNGramJaccard].getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $ref.kernel($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The composite quality score of `TextFunctions.qualityScoreHof` in one
  * call per row: one trim + split gives the token count, the distinct
  * token count (binary equality, as `array_distinct`) and the summed
  * token characters; one lowercase gives the stopword hits, each the
  * number of non-overlapping matches of `" w "` in `" " + lower + " "`
  * (what the HOF's replace-and-measure counts). The HOF form re-split the
  * text ~8 times and lowered + replaced it 12 times per row.
  *
  * Bit-identical to the HOF form: the kernel calls the built-ins' own
  * entry points (`CollationSupport.StringTrim.exec`, `UTF8String.split`
  * with limit -1, `CollationSupport.Lower.exec` under
  * `spark.sql.icu.caseMappings.enabled`, read as `Lower` reads it), and
  * combines the counts with the same double operations in the same order.
  * Only UTF8_BINARY text is accepted: under other collations trim, split,
  * distinct and replace all change meaning — use the HOF form there. */
case class TextQualityScore(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case st: StringType
        if st.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quality_score expects a UTF8_BINARY string, got ${other.sql}; " +
        "use TextFunctions.qualityScoreHof for collated text")
  }
  override def dataType: DataType = DoubleType

  private final lazy val useICU: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
  @transient private lazy val whitespace = UTF8String.fromString("\\s+")
  @transient private lazy val space = UTF8String.fromString(" ")
  @transient private lazy val patterns: Array[Array[Byte]] =
    stopwords.map(w => s" $w ".getBytes("UTF-8")).toArray

  /** Non-overlapping left-to-right matches of `pat` in `s`, by bytes —
    * what `UTF8String.replace` removes. */
  private def matches(s: UTF8String, pat: Array[Byte]): Long = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes()
    var n = 0L
    var i = 0
    while (i + pat.length <= len) {
      var k = 0
      while (k < pat.length && Platform.getByte(base, off + i + k) == pat(k))
        k += 1
      if (k == pat.length) { n += 1; i += k } else i += 1
    }
    n
  }

  def kernel(u: UTF8String, icu: Boolean): Double = {
    val toks = CollationSupport.StringTrim.exec(u).split(whitespace, -1)
    val distinct = new java.util.HashSet[UTF8String](toks.length * 2)
    var chars = 0L
    var i = 0
    while (i < toks.length) {
      distinct.add(toks(i))
      chars += toks(i).numChars()
      i += 1
    }
    // `lower` re-encodes non-ASCII text from a Java String, so the padded
    // string is valid UTF-8 and each removed " w " is |w| + 2 characters:
    // the HOF's length difference divided by that is exactly this count
    val padded = UTF8String.concat(space,
      CollationSupport.Lower.exec(u, CollationFactory.UTF8_BINARY_COLLATION_ID,
        icu), space)
    var hits = 0L
    i = 0
    while (i < patterns.length) { hits += matches(padded, patterns(i)); i += 1 }
    val n = toks.length.toDouble
    val typeTokenRatio = distinct.size.toDouble / n
    val stopwordRatio = hits.toDouble / n
    val meanTokenLength = chars.toDouble / n
    val capped = stopwordRatio * 4.0
    typeTokenRatio * 0.5 + (if (1.0 < capped) 1.0 else capped) * 0.3 +
      (if (meanTokenLength >= 3.0 && meanTokenLength <= 8.0) 0.2 else 0.0)
  }

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("qualityScore", this,
      classOf[TextQualityScore].getName)
    // the conf is read when the code is generated, as Lower's genCode does
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c, $useICU);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hyperplane-LSH bucket id: one bit per plane = sign of <v, plane_j>, with
  * the deterministic integer plane weights of
  * [[graft.operators.Similarity]] (`((j*64+d)*2654435761 % 97) - 48`).
  * Per-plane projections accumulate as a sequential left-fold in double —
  * bit-identical to both the Column formulation (512 chained `element_at`
  * terms for 8×64) and the DuckDB `list_sum` oracle, but ONE tight loop:
  * the Column form made codegen carry 512 expression nodes per row.
  * Codegen via the addReferenceObj kernel pattern (stage stays codegen'd). */
case class HyperplaneBucket(child: Expression, numPlanes: Int, dim: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: NumericType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"expects a numeric array, got $other")
  }
  override def dataType: DataType = LongType

  private def weight(j: Int, d: Int): Double =
    (((j.toLong * 64L + d.toLong) * 2654435761L % 97L) - 48L).toDouble

  @transient private lazy val weights: Array[Array[Double]] =
    Array.tabulate(numPlanes, dim)(weight)

  @transient private lazy val readElem: (ArrayData, Int) => Double =
    child.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType   => (a, i) => a.getFloat(i).toDouble
      case DoubleType  => (a, i) => a.getDouble(i)
      case IntegerType => (a, i) => a.getInt(i).toDouble
      case LongType    => (a, i) => a.getLong(i).toDouble
      case other => throw new IllegalArgumentException(
        s"hyperplane_bucket: unsupported element type $other")
    }

  // A vector SHORTER than `dim` yields NULL, never a truncated projection:
  // silently bucketing a malformed embedding on a partial dot product would
  // group it with arbitrary neighbors. (Extra trailing dims are ignored —
  // the planes are only defined on the first `dim`.)
  override def nullable: Boolean = true

  /** The projection loop, shared by interpreted eval and generated code.
    * Caller guarantees a.numElements() >= dim. */
  def kernel(a: ArrayData): Long = {
    var out = 0L
    var j = 0
    while (j < numPlanes) {
      val w = weights(j)
      var s = 0.0
      var d = 0
      while (d < dim) { s += readElem(a, d) * w(d); d += 1 }
      if (s > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (a.numElements() < dim) null else kernel(a)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hyperplaneBucket", this,
      classOf[HyperplaneBucket].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""if ($c.numElements() < $dim) { ${ev.isNull} = true; }
         |else { ${ev.value} = $ref.kernel($c); }""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct word n-grams (token shingles), space-joined, in first-occurrence
  * order — the native twin of `TextFunctions.tokenShingles`
  * (`array_distinct(transform(sequence..., concat_ws(slice(split(trim)))))`),
  * whose interpreted HOF chain allocated a slice + join per gram and
  * dominated the contamination queries. EXACT semantic parity with the HOF
  * form (spec-checked): spaces-only trim (what Spark's `trim` does), then
  * `String.split("\\s+", -1)` — the same Java regex split the built-in
  * `split` runs — then LinkedHashSet dedup (= `array_distinct`'s
  * first-occurrence order). */
case class TextTokenNGrams(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_ngrams expects a string, got $other")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def kernel(u: UTF8String): GenericArrayData = {
    // UTF8String.trim() trims ASCII spaces only — identical to Spark trim
    val toks = u.trim().toString.split("\\s+", -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + n <= toks.length) {
      val sb = new java.lang.StringBuilder(toks(i))
      var k = 1
      while (k < n) { sb.append(' ').append(toks(i + k)); k += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenNGrams", this,
      classOf[TextTokenNGrams].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Product-quantization encode: for each of the m codebooks, the index of
  * the centroid minimizing −2·v·c + ‖c‖² over the vector's j-th subspace
  * slice (ties → smallest code) — one tight loop per row instead of the
  * Column formulation's m×k struct cells + array_sort (measured 30k vecs/s
  * HOF vs the kernel; see SCALING.md). Arithmetic is ORDER-IDENTICAL to the
  * Column form (sequential dot fold, (−2·dot)+‖c‖², first-wins ties), so
  * the oracle hash of q_pq_topk is unchanged. Vectors shorter than m×sub
  * yield NULL (same contract as HyperplaneBucket). */
case class PqEncodeArray(child: Expression,
                         books: Array[Array[Array[Double]]])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: NumericType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode expects a numeric array, got $other")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val m = books.length
  @transient private lazy val sub = books(0)(0).length
  @transient private lazy val cNormSq: Array[Array[Double]] =
    books.map(_.map(c => c.map(x => x * x).sum))

  @transient private lazy val readElem: (ArrayData, Int) => Double =
    child.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType   => (a, i) => a.getFloat(i).toDouble
      case DoubleType  => (a, i) => a.getDouble(i)
      case IntegerType => (a, i) => a.getInt(i).toDouble
      case LongType    => (a, i) => a.getLong(i).toDouble
      case other => throw new IllegalArgumentException(
        s"pq_encode: unsupported element type $other")
    }

  /** Caller guarantees a.numElements() >= m * sub. */
  def kernel(a: ArrayData): GenericArrayData = {
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val base = j * sub
      val book = books(j)
      val norms = cNormSq(j)
      var best = Double.PositiveInfinity
      var bestC = 0
      var c = 0
      while (c < book.length) {
        val cv = book(c)
        var dot = 0.0
        var d = 0
        while (d < sub) { dot += readElem(a, base + d) * cv(d); d += 1 }
        val dist = -2.0 * dot + norms(c)
        if (dist < best) { best = dist; bestC = c } // strict < : ties → min c
        c += 1
      }
      out(j) = bestC
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (a.numElements() < m * sub) null else kernel(a)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this,
      classOf[PqEncodeArray].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""if ($c.numElements() < ${m * sub}) { ${ev.isNull} = true; }
         |else { ${ev.value} = $ref.kernel($c); }""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Asymmetric-distance (ADC) score for PQ search: the full-precision query
  * against one candidate's m codebook indices —
  *   score = Σ_j dot(query[j·sub .. j·sub+sub), books(j)(codes(j)))
  * in one tight loop per row-pair. Replaces the unrolled Column form
  * `Σ_j dot_f(slice(qv, …), element_at(element_at(cbLit, …)))`, which
  * allocates m sliced arrays and walks a 3-level literal per candidate —
  * the measured hot loop of [[graft.operators.Similarity.pqTopK]] at the
  * 50M-row probe scale. Accumulation order is IDENTICAL to the unrolled
  * form (inner d ascending per subspace, outer j ascending, all in
  * double), so results are bit-equal and the DuckDB oracle replay holds.
  */
case class AdcScore(query: Expression, codes: Expression,
                    books: Array[Array[Array[Double]]])
    extends BinaryExpression {

  override def left: Expression = query
  override def right: Expression = codes
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (query.dataType, codes.dataType) match {
      case (ArrayType(_: NumericType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"adc_score expects (numeric array, int array), got $other")
    }

  @transient private lazy val m = books.length
  @transient private lazy val sub = books(0)(0).length
  @transient private lazy val readElem: (ArrayData, Int) => Double =
    query.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType   => (a, i) => a.getFloat(i).toDouble
      case DoubleType  => (a, i) => a.getDouble(i)
      case IntegerType => (a, i) => a.getInt(i).toDouble
      case LongType    => (a, i) => a.getLong(i).toDouble
      case other => throw new IllegalArgumentException(
        s"adc_score: unsupported query element type $other")
    }

  /** Caller guarantees q.numElements >= m·sub, cd.numElements == m, and
    * each code in [0, k). */
  def kernel(q: ArrayData, cd: ArrayData): Double = {
    var total = 0.0
    var j = 0
    while (j < m) {
      val book = books(j)(cd.getInt(j))
      val base = j * sub
      var dot = 0.0
      var d = 0
      while (d < sub) { dot += readElem(q, base + d) * book(d); d += 1 }
      total += dot
      j += 1
    }
    total
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (q, cd) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (q.numElements() < m * sub || cd.numElements() != m) null
    else kernel(q, cd)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("adcScore", this, classOf[AdcScore].getName)
    nullSafeCodeGen(ctx, ev, (q, cd) =>
      s"""if ($q.numElements() < ${m * sub} || $cd.numElements() != $m) {
         |  ${ev.isNull} = true;
         |} else { ${ev.value} = $ref.kernel($q, $cd); }""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(query = newLeft, codes = newRight)
}

/** Gopher-style word-n-gram repetition signals (public technique — Rae et
  * al. 2021 §A1.1): per document,
  *   top_frac = max over n-grams of count × charLen / totalTokenChars
  *   dup_frac = Σ over n-grams with count ≥ 2 of count × charLen / total
  * where charLen is the n-gram's token characters (no separator spaces)
  * and totalTokenChars the document's. `max(count × charLen)` needs no
  * tie-break — the PRODUCT is maximized, so the definition is
  * deterministic and replayable in plain SQL (group by gram string).
  * Tokenization matches [[TextTokenNGrams]] (trim, `\\s+` split). Docs
  * with fewer than n tokens or zero token chars score (0, 0). One counting
  * pass per row (hash map of gram → count) vs an O(g²) HOF formulation. */
case class TextNGramRepetition(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ngram_repetition expects a string, got $other")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("top_frac", DoubleType, nullable = false),
    StructField("dup_frac", DoubleType, nullable = false)))

  def kernel(u: UTF8String): InternalRow = {
    val toks = u.trim().toString.split("\\s+", -1)
    var total = 0L
    var i = 0
    while (i < toks.length) { total += toks(i).length; i += 1 }
    if (toks.length < n || total == 0L) return InternalRow(0.0, 0.0)
    // char length of gram starting at i = prefix(i+n) - prefix(i)
    val prefix = new Array[Long](toks.length + 1)
    i = 0
    while (i < toks.length) {
      prefix(i + 1) = prefix(i) + toks(i).length; i += 1 }
    val counts = new java.util.HashMap[String, Array[Long]]()
    i = 0
    while (i + n <= toks.length) {
      val sb = new java.lang.StringBuilder(toks(i))
      var k = 1
      while (k < n) { sb.append(' ').append(toks(i + k)); k += 1 }
      val chars = prefix(i + n) - prefix(i)
      val cell = counts.computeIfAbsent(sb.toString, _ => Array(0L, chars))
      cell(0) += 1
      i += 1
    }
    var top = 0L
    var dup = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val cell = it.next()
      val covered = cell(0) * cell(1)
      if (covered > top) top = covered
      if (cell(0) >= 2) dup += covered
    }
    InternalRow(top.toDouble / total, dup.toDouble / total)
  }

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ngramRepetition", this,
      classOf[TextNGramRepetition].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash over a string's distinct whitespace tokens: one pass,
  * per-token xxhash64, ±1 votes per bit, sign → bit. Distinctness via a
  * hash set of token hashes (dedup by hash — collision-safe enough for a
  * sketch). */
case class TextSimHash64(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expects string, got $other")
  }
  override def dataType: DataType = LongType

  /** The tokenizing/voting loop, shared by interpreted eval and codegen. */
  def kernel(u: UTF8String): Long = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val len = u.numBytes()
    val votes = new Array[Int](64)
    val seen = new java.util.HashSet[java.lang.Long]()
    var i = 0
    while (i < len) {
      // skip whitespace
      while (i < len && isSpace(org.apache.spark.unsafe.Platform.getByte(base, off + i))) i += 1
      val start = i
      while (i < len && !isSpace(org.apache.spark.unsafe.Platform.getByte(base, off + i))) i += 1
      if (i > start) {
        val h = XXH64.hashUnsafeBytes(base, off + start, i - start, 42L)
        if (seen.add(h)) {
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("textSimHash64", this,
      classOf[TextSimHash64].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.kernel($c);")
  }

  private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f'

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
