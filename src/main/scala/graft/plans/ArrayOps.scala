package graft.plans

import graft.signal.Signal
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.bridge.{toColumn, toExpr}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.immutable.ArraySeq

/** Catalyst-native array and text kernels (SURVEY §7.3 tier (b):
  * custom Expression where built-ins interpret lambdas): the integer
  * dot, the ×2^20 quantizer, the sign-LSH and JL projections and PQ
  * encode of the similarity faces, the sorted merge-intersect of the
  * exact pair verify, the WADA SNR, the text normalizer and the
  * in-row unit rebuild of the sub-document dedup faces.
  *
  * `zip_with`+`aggregate` HOFs evaluate one boxed lambda call per
  * element; for a 64-float dot product inside an O(n·k) candidate scan
  * that interpretation dominates. These expressions run a tight
  * primitive loop inside WholeStageCodegen. Each kernel's loop is one
  * static method on its companion, called by both `nullSafeEval` and
  * the generated code, so interpreted and compiled eval cannot drift.
  */

/** dot(a, b) over two array<float|double|long> columns → double (long
  * elements accumulate in double — exact as long as every partial sum
  * stays under 2^53, which the ×2^20 quantization guarantees for
  * ≤64-dim vectors). Mismatched lengths use the shorter prefix; null
  * input → null.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType

  private def ok(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) |
        ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"array_dot needs array<float|double|long> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")

  import ArrayDotProduct.kind

  override def nullSafeEval(l: Any, r: Any): Any = ArrayDotProduct.evalDot(
    l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], kind(left), kind(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.ArrayDotProduct.evalDot(" +
        s"$a, $b, ${kind(left)}, ${kind(right)});")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "array_dot"
}

object ArrayDotProduct {
  // element kinds: long first, the quantized inputs of every caller
  private def kind(e: Expression): Int = e.dataType.asInstanceOf[ArrayType].elementType match {
    case LongType => 0
    case FloatType => 1
    case _ => 2
  }

  private def get(arr: ArrayData, kind: Int, i: Int): Double =
    if (kind == 0) arr.getLong(i).toDouble
    else if (kind == 1) arr.getFloat(i).toDouble
    else arr.getDouble(i)

  /** Called from generated code. */
  def evalDot(a: ArrayData, b: ArrayData, ka: Int, kb: Int): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += get(a, ka, i) * get(b, kb, i)
      i += 1
    }
    acc
  }
}

/** WADA blind SNR (graft.signal.Signal.wadaSnr) as an expression:
  * no Scala-UDF encoder round-trip — ArrayData in, double out. Both
  * eval paths widen the array to doubles and call the Scala function.
  */
case class WadaSnrExpr(child: Expression)
    extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"wada_snr needs array<float|double> input, got ${other.simpleString}")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any =
    WadaSnrExpr.evalArray(input.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.WadaSnrExpr.evalArray($c, $isFloat);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "wada_snr"
}

object WadaSnrExpr {
  /** Called from generated code. */
  def evalArray(arr: ArrayData, isFloat: Boolean): Double = {
    val out = new Array[Double](arr.numElements())
    var i = 0
    while (i < out.length) {
      out(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    Signal.wadaSnr(out)
  }
}

/** Count of common elements of two SORTED array<long> columns — the
  * exact-verify core of the prefix-filtered pair joins
  * ([[graft.dedup.Dedup.ngramJaccardPairsPrefix]] /
  * `containmentPairs`). As a Scala UDF this boxed every element of
  * both shingle arrays per candidate pair (sf10 containment: 31M
  * candidates × ~300 longs ≈ 10¹⁰ boxed-Long allocations — measured
  * as ~80% of the operator's wall); as a native expression the merge
  * loop runs on primitive `ArrayData.getLong` inside WholeStageCodegen
  * with zero allocation. Inputs MUST be sorted ascending (the shingle
  * arrays are by construction); unsorted inputs silently undercount.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType

  private def ok(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count needs array<long> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")

  override def nullSafeEval(l: Any, r: Any): Any = SortedIntersectCount.evalCount(
    l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.SortedIntersectCount.evalCount($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_intersect_count"
}

object SortedIntersectCount {
  /** Called from generated code. */
  def evalCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1L; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** ×2^20 round-half-away-from-zero quantizer: array<float> →
  * array<long> on the exact grid every similarity oracle replays
  * (`CAST(round(CAST(x AS DOUBLE) * 1048576.0, 0) AS BIGINT)`). The
  * products are exactly representable doubles, so `x + 0.5` floored
  * (x ≥ 0) / `x - 0.5` ceiled equals round() in both engines. A
  * per-row primitive loop inside WholeStageCodegen — this pass runs
  * corpus-sized in every quantized-cosine dedup path, where the
  * Scala-UDF form paid a Seq[Float] boxing round-trip per row.
  */
case class QuantizeExpr(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quantize_1m needs array<float> input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    QuantizeExpr.evalQuantize(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.plans.QuantizeExpr.evalQuantize($v);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "quantize_1m"
}

object QuantizeExpr {
  /** The quantize step of this expression and of [[JlProjectExpr]] /
    * [[SignLshExpr]]: each float of `v` on the ×2^20 grid.
    */
  def quantize(v: ArrayData): Array[Long] = {
    val n = v.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val x = v.getFloat(i).toDouble * 1048576.0d
      out(i) = (if (x >= 0) x + 0.5d else x - 0.5d).toLong
      i += 1
    }
    out
  }

  /** Called from generated code. */
  def evalQuantize(v: ArrayData): ArrayData = UnsafeArrayData.fromPrimitiveArray(quantize(v))
}

/** Sign-random-projection LSH bucket ids, one per hash table:
  * quantize the vector to the ×2^20 HALF_UP grid, dot it against
  * `bits` integer hyperplanes per table (rows t·bits+i of the shared
  * plane grid, embedded flattened at `(t·bits+i)·dimCap + j`), and
  * set bit i of table t's bucket when the EXACT long dot is ≥ 0 — no
  * float sign decision anywhere, so bucket ids stay engine-portable.
  * That is [[JlProjectExpr]]'s projection over `tables·bits` rows,
  * packed to sign bits. Replaces the Scala-UDF form, which paid
  * per-row Seq[Float] boxing AND re-derived every plane component by
  * hashing (XXH64 per (i, j) per row); here the planes are plan
  * metadata computed once. Vectors longer than `dimCap` fail loudly —
  * widen the cap at the call site rather than silently truncating the
  * projection.
  */
case class SignLshExpr(
    child: Expression,
    planes: ArraySeq.ofLong, // structural ==, unlike Array; loops read unsafeArray
    tables: Int,
    bits: Int,
    dimCap: Int)
    extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sign_lsh needs array<float> input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = SignLshExpr.evalBuckets(
    input.asInstanceOf[ArrayData], planes.unsafeArray, tables, bits, dimCap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val pl = ctx.addReferenceObj("lshPlanes", planes.unsafeArray, "long[]")
      s"${ev.value} = graft.plans.SignLshExpr.evalBuckets(" +
        s"$v, $pl, $tables, $bits, $dimCap);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "sign_lsh"
}

object SignLshExpr {
  /** Called from generated code. */
  def evalBuckets(
      v: ArrayData, planes: Array[Long], tables: Int, bits: Int, dimCap: Int): ArrayData = {
    val y = JlProjectExpr.project(v, planes, tables * bits, dimCap, "sign_lsh")
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var i = 0
      while (i < bits) {
        if (y(t * bits + i) >= 0L) bucket |= (1L << i)
        i += 1
      }
      out(t) = bucket
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Johnson–Lindenstrauss integer projection (the randomProject core):
  * y_i = Σ_j q(x_j)·planes[i·dimCap + j] over the ×2^20 HALF_UP
  * quantized vector — [[SignLshExpr]] WITHOUT the drop to sign bits,
  * sharing its embedded-plane/exact-integer discipline. Same
  * bounds: |term| < 2^41, 64-dim sums < 2^47 — exact longs on any
  * engine.
  */
case class JlProjectExpr(
    child: Expression,
    planes: ArraySeq.ofLong, // structural ==, unlike Array; loops read unsafeArray
    outDims: Int,
    dimCap: Int)
    extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"jl_project needs array<float> input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = JlProjectExpr.evalProject(
    input.asInstanceOf[ArrayData], planes.unsafeArray, outDims, dimCap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val pl = ctx.addReferenceObj("jlPlanes", planes.unsafeArray, "long[]")
      s"${ev.value} = graft.plans.JlProjectExpr.evalProject($v, $pl, $outDims, $dimCap);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "jl_project"
}

object JlProjectExpr {
  /** The quantize-then-project loop of this expression and
    * [[SignLshExpr]]: `rows` exact long dots of the quantized `v`
    * against the plane grid. `name` heads the loud failure when `v`
    * has more than `dimCap` dims.
    */
  def project(
      v: ArrayData, planes: Array[Long], rows: Int, dimCap: Int, name: String): Array[Long] = {
    val n = v.numElements()
    if (n > dimCap) throw new IllegalArgumentException(
      s"$name: vector has $n dims > plane cap $dimCap — raise dimCap")
    val q = QuantizeExpr.quantize(v)
    val out = new Array[Long](rows)
    var i = 0
    while (i < rows) {
      val base = i * dimCap
      var s = 0L
      var j = 0
      while (j < n) { s += q(j) * planes(base + j); j += 1 }
      out(i) = s
      i += 1
    }
    out
  }

  /** Called from generated code. */
  def evalProject(v: ArrayData, planes: Array[Long], outDims: Int, dimCap: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(project(v, planes, outDims, dimCap, "jl_project"))
}

/** PQ / k-means encoder: per subspace `s`, the argmin code over `k`
  * codebook entries of the identical-order squared-L2 chain (strict
  * `<`, so ties go to the smallest code — the Lloyd-assignment
  * contract every oracle replays). The codebook ships flattened
  * (`((s·k)+c)·sd + j`) inside the expression — m·k·sd doubles of
  * plan metadata, broadcast with the task binary — and the whole
  * encode runs as a primitive loop inside WholeStageCodegen: the
  * corpus-sized encode pass previously paid a Scala-UDF Seq[Float]
  * boxing round-trip per row (the dominant cost of pqBuild/ivfBuild
  * after their Lloyd training went sample-bounded).
  *
  * IVF assignment is the m=1 special case (one subspace spanning the
  * full dimension, k=nLists): element 0 of the result is the list id.
  */
case class PqEncodeExpr(
    child: Expression,
    flat: ArraySeq.ofDouble, // structural ==, unlike Array; loops read unsafeArray
    m: Int,
    k: Int,
    sd: Int)
    extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode needs array<float> input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = PqEncodeExpr.evalEncode(
    input.asInstanceOf[ArrayData], flat.unsafeArray, m, k, sd)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cb = ctx.addReferenceObj("pqCodebooks", flat.unsafeArray, "double[]")
      s"${ev.value} = graft.plans.PqEncodeExpr.evalEncode($v, $cb, $m, $k, $sd);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "pq_encode"
}

object PqEncodeExpr {
  /** Called from generated code. */
  def evalEncode(v: ArrayData, cb: Array[Double], m: Int, k: Int, sd: Int): ArrayData = {
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val vbase = s * sd
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        val cbase = (s * k + c) * sd
        var d = 0.0
        var j = 0
        while (j < sd) {
          val t = v.getFloat(vbase + j).toDouble - cb(cbase + j)
          d += t * t
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Single-pass text normalizer — the
  * [[graft.text.TextAnalysis.normalizedText]] contract (lowercase,
  * strip the four ASCII punctuation ranges, collapse whitespace runs
  * to one space, trim) as ONE compiled byte loop instead of two full
  * regex passes + lower + trim. This key pass runs corpus-sized in
  * every normalized-dedup path (exactNormalized, softDedupWeights,
  * decontamination). ASCII inputs take the byte loop; any non-ASCII
  * byte falls back to the EXACT builtin composition (UTF8String
  * toLowerCase → the same two java.util.regex patterns → trim), so
  * results are byte-identical on every input — NormalizeTextSpec pins
  * equality against the composed form, and the md5-keyed oracles
  * replay unchanged.
  */
case class NormalizeTextExpr(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"normalize_text needs string input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    NormalizeTextExpr.evalNorm(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.plans.NormalizeTextExpr.evalNorm($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "normalize_text"
}

object NormalizeTextExpr {
  // the exact patterns of the composed form (TextAnalysis.normalizedText)
  private val punct = java.util.regex.Pattern.compile("[!-/:-@\\[-`{-~]")
  private val ws = java.util.regex.Pattern.compile("\\s+")

  private def isPunct(c: Int): Boolean =
    (c >= '!' && c <= '/') || (c >= ':' && c <= '@') ||
      (c >= '[' && c <= '`') || (c >= '{' && c <= '~')

  // java.util.regex \s without UNICODE_CHARACTER_CLASS: [ \t\n\x0B\f\r]
  private def isWs(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r'

  /** Called from generated code. */
  def evalNorm(u: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val n = u.numBytes()
    // ASCII probe + fast path: one pass, output can only shrink
    var ascii = true
    var i = 0
    while (ascii && i < n) {
      if (u.getByte(i) < 0) ascii = false
      i += 1
    }
    if (!ascii) {
      // exact builtin composition for non-ASCII inputs
      val lowered = u.toLowerCase.toString
      val s = ws.matcher(punct.matcher(lowered).replaceAll("")).replaceAll(" ")
      return org.apache.spark.unsafe.types.UTF8String.fromString(s).trim()
    }
    val out = new Array[Byte](n)
    var w = 0
    var pendingSpace = false
    i = 0
    while (i < n) {
      val b = u.getByte(i)
      val c = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
      if (isWs(c)) pendingSpace = true
      else if (!isPunct(c)) {
        if (pendingSpace && w > 0) { out(w) = ' '; w += 1 }
        pendingSpace = false
        out(w) = c
        w += 1
      }
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(out, 0, w)
  }
}

/** The in-row cut-and-rejoin of the exact sub-document dedup faces
  * ([[graft.dedup.Dedup]]): split `text` into `split(sep, -1)` lines
  * (`'\n'`, emitted trimmed of spaces only, as Spark's trim()), tokens
  * (`' '`) or UTF-16 chars (no separator); mark the units covered by
  * `[p·stride, p·stride + width)` for each position `p` of `pos`
  * (array<int|long>; repeats and past-the-end positions allowed); and
  * rejoin the covered units (`keep`) or the rest, in order. Result:
  * (text, kept units, maximal runs of units left out). A null or empty
  * `pos` covers nothing; a null `text` gives "" in keep mode and null
  * in drop mode, with 0 counts. Declared nullable, though never null,
  * so the fields read from it keep the nullability of the UDF columns
  * it replaced.
  */
case class RebuildUnitsExpr(
    left: Expression,
    right: Expression,
    unit: Int,
    stride: Int,
    width: Int,
    keep: Boolean)
    extends BinaryExpression {

  override def nullable: Boolean = true
  override def dataType: DataType = RebuildUnitsExpr.ResultType

  private def intPos: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == IntegerType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, ArrayType(IntegerType | LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (t, p) => TypeCheckResult.TypeCheckFailure(
      s"rebuild_units needs (string, array<int|long>) inputs, got " +
        s"${t.simpleString} / ${p.simpleString}")
  }

  override def eval(input: InternalRow): Any = RebuildUnitsExpr.evalRebuild(
    left.eval(input).asInstanceOf[UTF8String], right.eval(input).asInstanceOf[ArrayData],
    intPos, unit, stride, width, keep)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = left.genCode(ctx)
    val p = right.genCode(ctx)
    ev.copy(
      code = code"""
        ${t.code}
        ${p.code}
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
          graft.plans.RebuildUnitsExpr.evalRebuild(
            ${t.isNull} ? null : ${t.value}, ${p.isNull} ? null : ${p.value},
            $intPos, $unit, $stride, $width, $keep);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "rebuild_units"
}

object RebuildUnitsExpr {
  val Lines = 0
  val Tokens = 1
  val Chars = 2

  private val ResultType: StructType = StructType(Seq(
    StructField("text", StringType),
    StructField("kept", LongType, nullable = false),
    StructField("runs", LongType, nullable = false)))

  /** Called from generated code. */
  def evalRebuild(
      text: UTF8String, pos: ArrayData, intPos: Boolean,
      unit: Int, stride: Int, width: Int, keep: Boolean): InternalRow = {
    if (text == null)
      return new GenericInternalRow(Array[Any](if (keep) UTF8String.EMPTY_UTF8 else null, 0L, 0L))
    val s = text.toString
    val sep = if (unit == Lines) '\n' else ' '
    val sepLen = if (unit == Chars) 0 else 1
    // n chars make at most n + 1 units
    val covered = new Array[Boolean](s.length + 1)
    val np = if (pos == null) 0 else pos.numElements()
    var k = 0
    while (k < np) {
      val from = (if (intPos) pos.getInt(k).toLong else pos.getLong(k)) * stride
      val until = math.min(covered.length.toLong, from + width)
      var i = from
      while (i < until) { covered(i.toInt) = true; i += 1 }
      k += 1
    }
    val sb = new java.lang.StringBuilder(s.length)
    var kept = 0L
    var runs = 0L
    var a = 0 // where unit u starts
    var u = 0
    while (a < s.length + sepLen) {
      val b = if (unit == Chars) a + 1 else { val j = s.indexOf(sep, a); if (j < 0) s.length else j }
      if (covered(u) == keep) {
        var x = a
        var y = b
        if (unit == Lines) {
          while (x < y && s.charAt(x) == ' ') x += 1
          while (y > x && s.charAt(y - 1) == ' ') y -= 1
        }
        if (kept > 0 && sepLen > 0) sb.append(sep)
        sb.append(s, x, y)
        kept += 1
      } else if (u == 0 || covered(u - 1) == keep) runs += 1 // left out after a kept unit
      a = b + sepLen
      u += 1
    }
    new GenericInternalRow(Array[Any](UTF8String.fromString(sb.toString), kept, runs))
  }
}

/** Column-level API for the native expressions (their SQL names are
  * registered in [[graft.GraftExtensions]]).
  */
object ArrayOps {

  /** Native one-pass normalizer (see [[NormalizeTextExpr]]). */
  def normalize_text(c: Column): Column = toColumn(NormalizeTextExpr(toExpr(c)))

  /** Native ×2^20 quantizer (see [[QuantizeExpr]]). */
  def quantize_1m(v: Column): Column = toColumn(QuantizeExpr(toExpr(v)))

  /** Native multi-table sign-LSH buckets (see [[SignLshExpr]]);
    * `planes` is the flattened (tables·bits)×dimCap integer grid.
    */
  def sign_lsh_buckets(
      v: Column, planes: Array[Long], tables: Int, bits: Int, dimCap: Int): Column =
    toColumn(SignLshExpr(
      toExpr(v), new ArraySeq.ofLong(planes.clone()), tables, bits, dimCap))

  /** Native JL integer projection (see [[JlProjectExpr]]). */
  def jl_project(
      v: Column, planes: Array[Long], outDims: Int, dimCap: Int): Column =
    toColumn(JlProjectExpr(
      toExpr(v), new ArraySeq.ofLong(planes.clone()), outDims, dimCap))

  /** Native PQ encode: array<float> → array<int> of `m` codes under
    * `codebooks(s)(c)(d)`. The codebook snapshot is flattened at call
    * time, so later mutation of the caller's arrays cannot leak in.
    */
  def pq_encode(v: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val m = codebooks.length
    val k = codebooks(0).length
    val sd = codebooks(0)(0).length
    val flat = new Array[Double](m * k * sd)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < k) {
        System.arraycopy(codebooks(s)(c), 0, flat, (s * k + c) * sd, sd)
        c += 1
      }
      s += 1
    }
    toColumn(PqEncodeExpr(toExpr(v), new ArraySeq.ofDouble(flat), m, k, sd))
  }

  /** Native k-means assignment (IVF): the m=1 PQ-encode special case —
    * argmin centroid index over the full dimension, smallest-index
    * ties.
    */
  def kmeans_assign(v: Column, centroids: Array[Array[Double]]): Column =
    pq_encode(v, Array(centroids)).getItem(0)

  def sorted_intersect_count(a: Column, b: Column): Column =
    toColumn(SortedIntersectCount(toExpr(a), toExpr(b)))

  def array_dot(a: Column, b: Column): Column =
    toColumn(ArrayDotProduct(toExpr(a), toExpr(b)))

  def wada_snr_native(c: Column): Column = toColumn(WadaSnrExpr(toExpr(c)))

  /** Native cut-and-rejoin of `text` at the unit positions `pos` (see
    * [[RebuildUnitsExpr]]; `unit` is one of its `Lines`, `Tokens`,
    * `Chars`): struct(text, kept, runs).
    */
  def rebuild_units(
      text: Column, pos: Column, unit: Int, stride: Int, width: Int, keep: Boolean): Column =
    toColumn(RebuildUnitsExpr(toExpr(text), toExpr(pos), unit, stride, width, keep))
}
