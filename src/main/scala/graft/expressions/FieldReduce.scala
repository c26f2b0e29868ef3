package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-cell reductions over one field of an array-of-structs column, as a
  * single native kernel loop per row.
  *
  * The HOF formulations these replace (`aggregate`/`transform`/`filter`
  * chains in NestedOps.elementMean/Sum/Min/Max, the test-scope
  * `CrossCheck.reductionSql`, countNested, aggAllColumns) are
  * interpreted per ELEMENT — every lambda step pays expression-tree
  * walking, lambda-variable binding and an intermediate array
  * allocation per pass. One compiled loop per row does
  * the same math in element order, so every produced value is
  * bit-identical to the HOF form (differential spec: FieldReduceSpec).
  *
  * Codegen keeps whole-stage codegen alive (TextMinHash pattern): the
  * generated code calls the compiled kernel once per row via
  * `addReferenceObj` — one virtual dispatch per ROW, not per element.
  *
  * Null semantics per op, matching the exact HOF forms they replace
  * (NULL input array → NULL result for every op, via nullSafeEval):
  *  - count: # of non-null field values (NaN counts), bigint.
  *  - nullcount: # of elements whose field value is NULL (incl. null
  *    structs), int — replaces `size(filter(a, s -> s.f is null))`.
  *  - nacount: # of elements NULL or NaN (floating fields), int —
  *    replaces `size(filter(a, s -> s.f is null or isnan(s.f)))`.
  *  - sum: fold 0.0 + v over non-null v (empty/all-null → 0.0), double.
  *  - esum: fold 0.0 + coalesce(v, 0.0) over ALL elements — identical to
  *    sum except a -0.0 accumulator meeting a null element (+0.0 vs skip);
  *    kept separate so elementSum stays bit-for-bit what it was.
  *  - min/max: over non-null values with Spark's ordering (NaN greatest,
  *    -0.0 == 0.0); result keeps the field type. Empty/all-null → NULL.
  *  - minskipnan/maxskipnan: min/max after the NaN→NULL rewrite
  *    (aggAllColumns skipna semantics) — NaN values are skipped too.
  *  - mean: sum of non-null / count of non-null (NaN participates),
  *    NULL when no values, double.
  *  - median: exact, matching `CrossCheck.reductionSql`'s sorted pick
  *    `(sv[(n+1)/2] + sv[n/2+1]) / 2` (1-based); NULL when no values.
  *  - std: single fold (n, Σv, Σv²), bias-corrected,
  *    `sqrt(max(0, (q - s²/n)/(n-1)))`, NULL when n ≤ 1 — the same
  *    accumulation order as the `CrossCheck.reductionSql` fold, so
  *    bit-identical.
  *    ONE deliberate edge change vs the HOF form: a NULL input array now
  *    yields NULL (consistent with every other op); the old let-binding
  *    accidentally returned 0.0 there (`greatest(0.0, null)` skips nulls).
  *    No query or caller reaches that edge (cells come from packFlat);
  *    FieldReduceSpec documents and pins the new behavior.
  */
case class StructFieldReduce(child: Expression, field: String, op: String)
    extends UnaryExpression {

  import StructFieldReduce._
  require(ops.contains(op), s"field_reduce: unknown op '$op'")

  @transient private lazy val structType: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  @transient private lazy val fieldOrd: Int = structType.fieldIndex(field)
  @transient private lazy val fieldType: DataType = structType(fieldOrd).dataType
  @transient private lazy val nFields: Int = structType.size
  @transient private lazy val floating: Boolean =
    fieldType == DoubleType || fieldType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _) if s.fieldNames.contains(field) =>
      val ft = s(field).dataType
      op match {
        case "min" | "max" | "minskipnan" | "maxskipnan" =>
          if (RowOrdering.isOrderable(ft)) TypeCheckResult.TypeCheckSuccess
          else TypeCheckResult.TypeCheckFailure(
            s"field_reduce $op: unorderable field type $ft")
        case "count" | "nullcount" | "nacount" =>
          TypeCheckResult.TypeCheckSuccess
        case _ => ft match {
          case _: NumericType => TypeCheckResult.TypeCheckSuccess
          case other => TypeCheckResult.TypeCheckFailure(
            s"field_reduce $op expects a numeric field, got $other")
        }
      }
    case other => TypeCheckResult.TypeCheckFailure(
      s"field_reduce expects array<struct> with field '$field', got $other")
  }

  override def dataType: DataType = op match {
    case "count"                 => LongType
    case "nullcount" | "nacount" => IntegerType
    case "min" | "max" | "minskipnan" | "maxskipnan" => fieldType
    case _                       => DoubleType
  }

  override def nullable: Boolean = true

  /** field value of element i as double; caller has checked non-null. */
  @transient private lazy val readD: (InternalRow) => Double = fieldType match {
    case DoubleType  => r => r.getDouble(fieldOrd)
    case FloatType   => r => r.getFloat(fieldOrd).toDouble
    case IntegerType => r => r.getInt(fieldOrd).toDouble
    case LongType    => r => r.getLong(fieldOrd).toDouble
    case ShortType   => r => r.getShort(fieldOrd).toDouble
    case ByteType    => r => r.getByte(fieldOrd).toDouble
    case d: DecimalType => r => r.getDecimal(fieldOrd, d.precision, d.scale).toDouble
    case other => throw new IllegalArgumentException(
      s"field_reduce $op: unsupported numeric field type $other")
  }

  @transient private lazy val ordering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(fieldType).asInstanceOf[Ordering[Any]]

  /** true when the (non-null) element's field is NULL. */
  @inline private def fieldNull(arr: ArrayData, i: Int): Boolean =
    arr.isNullAt(i) || arr.getStruct(i, nFields).isNullAt(fieldOrd)

  /** Box with a CANONICAL NaN: the payload of a computed NaN is whatever
    * the CPU's operand-propagation produced, and C2 may legally swap FP
    * add operands (JLS promises only "a NaN"), so the raw payload is not
    * deterministic across JIT states — normalize it exactly like Spark's
    * own hash functions do (doubleToLongBits). Value semantics unchanged;
    * min/max return stored input values and are not normalized. */
  @inline private def box(x: Double): java.lang.Double =
    java.lang.Double.valueOf(if (java.lang.Double.isNaN(x)) Double.NaN else x)

  def kernel(arr: ArrayData): Any = {
    val n = arr.numElements()
    op match {
      case "count" =>
        var c = 0L; var i = 0
        while (i < n) { if (!fieldNull(arr, i)) c += 1; i += 1 }
        java.lang.Long.valueOf(c)
      case "nullcount" =>
        var c = 0; var i = 0
        while (i < n) { if (fieldNull(arr, i)) c += 1; i += 1 }
        java.lang.Integer.valueOf(c)
      case "nacount" =>
        var c = 0; var i = 0
        if (floating) {
          while (i < n) {
            if (fieldNull(arr, i) ||
                java.lang.Double.isNaN(readD(arr.getStruct(i, nFields)))) c += 1
            i += 1
          }
        } else {
          while (i < n) { if (fieldNull(arr, i)) c += 1; i += 1 }
        }
        java.lang.Integer.valueOf(c)
      case "sum" =>
        var s = 0.0; var i = 0
        while (i < n) {
          if (!fieldNull(arr, i)) s += readD(arr.getStruct(i, nFields))
          i += 1
        }
        box(s)
      case "esum" =>
        // fold 0.0 + coalesce(v, 0.0): null elements ADD +0.0 (see doc)
        var s = 0.0; var i = 0
        while (i < n) {
          s += (if (fieldNull(arr, i)) 0.0 else readD(arr.getStruct(i, nFields)))
          i += 1
        }
        box(s)
      case "mean" =>
        var c = 0L; var s = 0.0; var i = 0
        while (i < n) {
          if (!fieldNull(arr, i)) { c += 1; s += readD(arr.getStruct(i, nFields)) }
          i += 1
        }
        if (c == 0L) null else box(s / c)
      case "std" =>
        var c = 0L; var s = 0.0; var q = 0.0; var i = 0
        while (i < n) {
          if (!fieldNull(arr, i)) {
            val v = readD(arr.getStruct(i, nFields))
            c += 1; s += v; q += v * v
          }
          i += 1
        }
        if (c <= 1L) null
        else box(math.sqrt(math.max(0.0, (q - s * s / c) / (c - 1))))
      case "median" =>
        // The HOF form picks from array_sort (Spark ordering: NaN greatest,
        // -0.0 == 0.0 with STABLE order) and adds the two picks in the
        // FIELD's type before the double(2) division — each replicated:
        //  - double/float: primitive sort unless BOTH zero signs are
        //    present (then a stable boxed sort with Spark's comparator
        //    reproduces the equal-run order exactly);
        //  - integral: exact long arithmetic for the (a + b) pick
        //    (Math.addExact raises on long overflow like ANSI);
        //  - decimal: exact BigDecimal (a + b), then the double cast.
        fieldType match {
          case DoubleType =>
            val buf = new Array[Double](n)
            var c = 0; var i = 0
            var negZ = false; var posZ = false
            while (i < n) {
              if (!fieldNull(arr, i)) {
                val v = arr.getStruct(i, nFields).getDouble(fieldOrd)
                if (v == 0.0) {
                  if (java.lang.Double.doubleToRawLongBits(v) != 0L) negZ = true
                  else posZ = true
                }
                buf(c) = v; c += 1
              }
              i += 1
            }
            if (c == 0) null
            else {
              if (negZ && posZ) {
                val boxed = new Array[java.lang.Double](c)
                var j = 0; while (j < c) { boxed(j) = buf(j); j += 1 }
                java.util.Arrays.sort(boxed, 0, c,
                  new java.util.Comparator[java.lang.Double] {
                    def compare(x: java.lang.Double, y: java.lang.Double): Int =
                      SQLOrderingUtil.compareDoubles(x, y)
                  })
                j = 0; while (j < c) { buf(j) = boxed(j); j += 1 }
              } else java.util.Arrays.sort(buf, 0, c)
              box((buf((c + 1) / 2 - 1) + buf(c / 2)) / 2.0)
            }
          case FloatType =>
            val buf = new Array[Float](n)
            var c = 0; var i = 0
            var negZ = false; var posZ = false
            while (i < n) {
              if (!fieldNull(arr, i)) {
                val v = arr.getStruct(i, nFields).getFloat(fieldOrd)
                if (v == 0.0f) {
                  if (java.lang.Float.floatToRawIntBits(v) != 0) negZ = true
                  else posZ = true
                }
                buf(c) = v; c += 1
              }
              i += 1
            }
            if (c == 0) null
            else {
              if (negZ && posZ) {
                val boxed = new Array[java.lang.Float](c)
                var j = 0; while (j < c) { boxed(j) = buf(j); j += 1 }
                java.util.Arrays.sort(boxed, 0, c,
                  new java.util.Comparator[java.lang.Float] {
                    def compare(x: java.lang.Float, y: java.lang.Float): Int =
                      SQLOrderingUtil.compareFloats(x, y)
                  })
                j = 0; while (j < c) { buf(j) = boxed(j); j += 1 }
              } else java.util.Arrays.sort(buf, 0, c)
              // float (a + b) in FLOAT precision, then the double division
              val s: Float = buf((c + 1) / 2 - 1) + buf(c / 2)
              box(s.toDouble / 2.0)
            }
          case d: DecimalType =>
            val buf = new java.util.ArrayList[java.math.BigDecimal](n)
            var i = 0
            while (i < n) {
              if (!fieldNull(arr, i)) buf.add(
                arr.getStruct(i, nFields).getDecimal(fieldOrd, d.precision,
                  d.scale).toJavaBigDecimal)
              i += 1
            }
            val c = buf.size()
            if (c == 0) null
            else {
              java.util.Collections.sort(buf)
              val s = buf.get((c + 1) / 2 - 1).add(buf.get(c / 2))
              box(s.doubleValue() / 2.0)
            }
          case _ =>
            val buf = new Array[Long](n)
            var c = 0; var i = 0
            while (i < n) {
              if (!fieldNull(arr, i)) {
                val row = arr.getStruct(i, nFields)
                buf(c) = fieldType match {
                  case LongType    => row.getLong(fieldOrd)
                  case IntegerType => row.getInt(fieldOrd).toLong
                  case ShortType   => row.getShort(fieldOrd).toLong
                  case ByteType    => row.getByte(fieldOrd).toLong
                  case other => throw new IllegalArgumentException(
                    s"field_reduce median: unsupported field type $other")
                }
                c += 1
              }
              i += 1
            }
            if (c == 0) null
            else {
              java.util.Arrays.sort(buf, 0, c)
              val s = Math.addExact(buf((c + 1) / 2 - 1), buf(c / 2))
              box(s.toDouble / 2.0)
            }
        }
      case "min" | "max" | "minskipnan" | "maxskipnan" =>
        val skipNaN = op.endsWith("skipnan") && floating
        val wantMin = op.startsWith("min")
        if (fieldType == DoubleType || fieldType == FloatType) {
          // primitive path with Spark's double ordering (NaN greatest,
          // -0.0 == 0.0) via SQLOrderingUtil
          var best = 0.0; var seen = false; var i = 0
          while (i < n) {
            if (!fieldNull(arr, i)) {
              val v = readD(arr.getStruct(i, nFields))
              if (!(skipNaN && java.lang.Double.isNaN(v))) {
                if (!seen) { best = v; seen = true }
                else {
                  val cmp = SQLOrderingUtil.compareDoubles(v, best)
                  if ((wantMin && cmp < 0) || (!wantMin && cmp > 0)) best = v
                }
              }
            }
            i += 1
          }
          if (!seen) null
          else if (fieldType == FloatType) java.lang.Float.valueOf(best.toFloat)
          else java.lang.Double.valueOf(best)
        } else {
          var best: Any = null; var i = 0
          while (i < n) {
            if (!fieldNull(arr, i)) {
              val v = arr.getStruct(i, nFields).get(fieldOrd, fieldType)
              if (best == null) best = v
              else {
                val cmp = ordering.compare(v, best)
                if ((wantMin && cmp < 0) || (!wantMin && cmp > 0)) best = v
              }
            }
            i += 1
          }
          best
        }
    }
  }

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fieldReduce", this,
      classOf[StructFieldReduce].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("frRes")
      s"""
        Object $r = $ref.kernel($c);
        if ($r == null) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $r;
        }
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = s"field_$op"
}

object StructFieldReduce {
  val ops: Set[String] = Set("count", "nullcount", "nacount", "sum", "esum",
    "mean", "median", "std", "min", "max", "minskipnan", "maxskipnan")
}

/** `size(filter(arr, s -> s.f = 'value'))` as one kernel loop: the count of
  * elements whose STRING field equals the literal. Null fields / null
  * structs never match (SQL `=` null semantics drop them in `filter`);
  * NULL input array → NULL (`size` of the filtered null is NULL under
  * ANSI — call sites wrap in coalesce exactly as they did before).
  * Used by countNested's by-value counts. */
case class StructFieldCountEq(child: Expression, field: String, value: String)
    extends UnaryExpression {

  @transient private lazy val structType: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  @transient private lazy val fieldOrd: Int = structType.fieldIndex(field)
  @transient private lazy val nFields: Int = structType.size
  @transient private lazy val target: UTF8String = UTF8String.fromString(value)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _) if s.fieldNames.contains(field) &&
        s(field).dataType.isInstanceOf[StringType] =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"field_counteq expects array<struct> with string field '$field', got $other")
  }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  def kernel(arr: ArrayData): Any = {
    val n = arr.numElements()
    var c = 0; var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val row = arr.getStruct(i, nFields)
        if (!row.isNullAt(fieldOrd) && target.equals(row.getUTF8String(fieldOrd)))
          c += 1
      }
      i += 1
    }
    java.lang.Integer.valueOf(c)
  }

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fieldCountEq", this,
      classOf[StructFieldCountEq].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ((java.lang.Integer) $ref.kernel($c)).intValue();")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "field_counteq"
}
