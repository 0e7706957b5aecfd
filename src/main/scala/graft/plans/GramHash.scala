package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graft.bridge.{toColumn, toExpr}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.immutable.ArraySeq

/** Word n-gram FNV-1a 64-bit hashes of one document as a NATIVE
  * codegen expression — the round-16 replacement for the Scala UDFs
  * behind [[GramHash.shingle_hashes]] (distinctSorted = true: dedup set
  * arithmetic) and [[GramHash.gram_hashes]] (distinctSorted = false:
  * one hash per position, duplicates kept — the counting twin).
  * These are the single most-traversed per-row passes in the engine
  * (every minhash / ngram-pair / containment / LM-tally / decontam
  * corpus pass); the UDF form paid the UDF String-boxing seam, an
  * Array[Long] → Catalyst converter per row, and a broken
  * whole-stage-codegen span at every call site.
  *
  * HASH LAYOUT IS UNCHANGED (oracle-critical): FNV-1a 64-bit over the
  * gram's UTF-16 chars with ' ' separators, identical to hashing the
  * `split(" ", -1)` token window — tokens are separated by exactly one
  * 0x20 in the source, so for ASCII text the hash equals FNV-1a over
  * the RAW BYTE RANGE from the window's first token start to its last
  * token end (separators included), one pass, no tokeniza­tion copies.
  * Any non-ASCII byte falls back to the EXACT char loop the UDFs ran
  * (UTF-16 code units, surrogates hashed as two units), so values are
  * bit-identical on every input. NULL text yields an EMPTY array, as
  * the UDFs did.
  */
case class GramHashesExpr(child: Expression, n: Int, distinctSorted: Boolean)
    extends UnaryExpression {

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"gram_hashes needs string input, got ${other.simpleString}")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    GramHashesExpr.evalHashes(v.asInstanceOf[UTF8String], n, distinctSorted)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.plans.GramHashesExpr.evalHashes(
            ${c.isNull} ? null : ${c.value}, $n, $distinctSorted);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String =
    if (distinctSorted) "shingle_hashes" else "gram_hashes"
}

object GramHashesExpr {

  private val EMPTY: ArrayData =
    UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)

  /** Called from generated code. */
  def evalHashes(s: UTF8String, n: Int, distinctSorted: Boolean): ArrayData = {
    if (s == null) return EMPTY
    val nb = s.numBytes()
    var ascii = true
    var i = 0
    while (ascii && i < nb) { if (s.getByte(i) < 0) ascii = false; i += 1 }
    val out =
      if (ascii) hashAsciiBytes(s, nb, n)
      else hashChars(s.toString, n)
    if (out == null) return EMPTY
    if (distinctSorted) {
      java.util.Arrays.sort(out)
      var w = 0
      var r = 0
      while (r < out.length) {
        if (r == 0 || out(r) != out(r - 1)) { out(w) = out(r); w += 1 }
        r += 1
      }
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, w))
    } else UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** ASCII fast path: split(" ", -1) boundaries are exactly the 0x20
    * bytes, and the UDF's token-chars-plus-single-space hash input IS
    * the raw byte range of the window (separators are one 0x20 each),
    * so each gram hash is one FNV pass over bytes
    * [tokenStart(i), tokenEnd(i+n-1)).
    */
  private def hashAsciiBytes(s: UTF8String, nb: Int, n: Int): Array[Long] = {
    // token start offsets: 0 plus every position after a 0x20
    var nTok = 1
    var i = 0
    while (i < nb) { if (s.getByte(i) == 0x20) nTok += 1; i += 1 }
    if (nTok < n) return null
    val starts = new Array[Int](nTok + 1)
    var t = 1
    i = 0
    while (i < nb) {
      if (s.getByte(i) == 0x20) { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(nTok) = nb + 1 // sentinel: end(j) = starts(j+1) - 1
    val m = nTok - n + 1
    val out = new Array[Long](m)
    var w = 0
    while (w < m) {
      val from = starts(w)
      val until = starts(w + n) - 1
      var h = 0xcbf29ce484222325L
      var k = from
      while (k < until) {
        h ^= s.getByte(k).toLong
        h *= 0x100000001b3L
        k += 1
      }
      out(w) = h
      w += 1
    }
    out
  }

  /** Exact replica of the UDF char loop (UTF-16 code units). */
  private def hashChars(text: String, n: Int): Array[Long] = {
    val toks = text.split(" ", -1)
    if (toks.length < n) return null
    val m = toks.length - n + 1
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) {
        if (j > 0) { h ^= ' '.toLong; h *= 0x100000001b3L }
        val t = toks(i + j)
        var k = 0
        while (k < t.length) {
          h ^= t.charAt(k).toLong; h *= 0x100000001b3L; k += 1
        }
        j += 1
      }
      out(i) = h
      i += 1
    }
    out
  }
}

/** FNV-1a 64-bit of one string's UTF-16 chars — the model-side twin of
  * [[GramHashesExpr]] (hash a reference relation's gram strings once,
  * model-sized, so corpus-side joins run on 8-byte keys). Replaces
  * the former fnv Scala UDF; same ASCII byte fast path / exact
  * char-loop fallback, values bit-identical.
  */
case class FnvHashExpr(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"fnv64 needs string input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    FnvHashExpr.evalFnv(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.plans.FnvHashExpr.evalFnv($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "fnv64"
}

object FnvHashExpr {
  /** Called from generated code. */
  def evalFnv(s: UTF8String): Long = {
    val nb = s.numBytes()
    var ascii = true
    var i = 0
    while (ascii && i < nb) { if (s.getByte(i) < 0) ascii = false; i += 1 }
    var h = 0xcbf29ce484222325L
    if (ascii) {
      var k = 0
      while (k < nb) { h ^= s.getByte(k).toLong; h *= 0x100000001b3L; k += 1 }
    } else {
      val str = s.toString
      var k = 0
      while (k < str.length) {
        h ^= str.charAt(k).toLong; h *= 0x100000001b3L; k += 1
      }
    }
    h
  }
}

/** Full MinHash signature of a hashed-shingle set as ONE compiled
  * primitive loop — replaces the former MinHash Scala UDF, whose
  * seam converted the 8-byte hash array to a boxed Seq[Long] per
  * corpus row (and back) on every minhash/LSH path. Arithmetic is the
  * UDF's exactly: per permutation i, h = ((((x % p)+p if <0) · aᵢ) +
  * bᵢ) % p minimized over the set (p = 2³¹−1; aᵢ ≤ ~1.3e7 keeps
  * xm·aᵢ ≪ 2⁶³, no overflow). An empty set yields Long.MaxValue per
  * slot, as the UDF did.
  */
case class MinHashSigExpr(
    child: Expression,
    as: ArraySeq.ofLong, // structural ==, unlike Array; loops read unsafeArray
    bs: ArraySeq.ofLong,
    p: Long)
    extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig needs array<long> input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    MinHashSigExpr.evalSig(input.asInstanceOf[ArrayData], as.unsafeArray, bs.unsafeArray, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val aRef = ctx.addReferenceObj("mhA", as.unsafeArray, "long[]")
      val bRef = ctx.addReferenceObj("mhB", bs.unsafeArray, "long[]")
      s"${ev.value} = graft.plans.MinHashSigExpr.evalSig($c, $aRef, $bRef, ${p}L);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

object MinHashSigExpr {
  /** Called from generated code. */
  def evalSig(xs: ArrayData, as: Array[Long], bs: Array[Long], p: Long): ArrayData = {
    val n = xs.numElements()
    val k = as.length
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      val a = as(i)
      val b = bs(i)
      var best = Long.MaxValue
      var j = 0
      while (j < n) {
        val x = xs.getLong(j)
        val m = x % p
        val xm = if (m < 0) m + p else m
        val h = (xm * a + b) % p
        if (h < best) best = h
        j += 1
      }
      out(i) = best
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Column-level API for the gram/fnv hash expressions. */
object GramHash {

  /** Distinct sorted shingle hashes (set arithmetic substrate). A
    * collision (~n²/2^64) can only merge two shingles, which the
    * downstream exact set arithmetic absorbs as a vanishingly small
    * Jaccard perturbation.
    */
  def shingle_hashes(c: Column, n: Int): Column =
    toColumn(GramHashesExpr(toExpr(c), n, distinctSorted = true))

  /** All positional gram hashes (counting substrate). Each equals
    * [[fnv64]] of the gram's ' '-joined string, so a model side hashed
    * from its gram strings joins exactly.
    */
  def gram_hashes(c: Column, n: Int): Column =
    toColumn(GramHashesExpr(toExpr(c), n, distinctSorted = false))

  /** FNV-1a 64-bit of a string. */
  def fnv64(c: Column): Column = toColumn(FnvHashExpr(toExpr(c)))

  /** Full MinHash signature of a hashed-shingle array. */
  def minhash_sig(c: Column, as: Array[Long], bs: Array[Long], p: Long): Column =
    toColumn(MinHashSigExpr(
      toExpr(c), new ArraySeq.ofLong(as.clone()), new ArraySeq.ofLong(bs.clone()), p))
}
