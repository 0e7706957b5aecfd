package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge.{toColumn, toExpr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Unicode-script histogram over a string — the script-mix signal a
  * multilingual curation pipeline reads before language ID (langid
  * n-gram models assume a dominant script; a 50/50 Latin/CJK page
  * should route to segmentation, not to a single-language bucket).
  *
  * Output: array<long> of 11 counts, one codepoint each:
  *   0 latin, 1 cyrillic, 2 greek, 3 arabic, 4 hebrew, 5 devanagari,
  *   6 cjk (han + kana), 7 hangul, 8 digit, 9 whitespace (space/tab/
  *   cr/lf only — the portable subset), 10 other.
  *
  * Iteration is by CODEPOINT (surrogate pairs consume one count), so
  * supplementary-plane text classifies correctly; the DuckDB oracle
  * replays per-char `unicode()` classification, identical on BMP text
  * (fixtures are BMP — same standing caveat as the SimHash replays).
  *
  * Native expression, not a UDF: no encoder round-trip, and the loop
  * runs inside WholeStageCodegen via a static call — per-row text
  * work at 100 TB must stay in the codegen'd task loop.
  */
case class ScriptCountsExpr(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"script_counts needs a string input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    ScriptCountsExpr.evalString(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val arrCls = classOf[ArrayData].getName
      s"${ev.value} = ($arrCls) graft.plans.ScriptCountsExpr.evalString($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "script_counts"
}

object ScriptCountsExpr {

  val NumClasses = 11

  /** Script class of one codepoint (see class doc for the table). */
  def scriptClass(cp: Int): Int = {
    if (cp >= '0' && cp <= '9') 8
    else if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')) 0
    else if (cp >= 0xC0 && cp <= 0x24F) 0 // Latin-1 Sup letters + Ext A/B
    else if (cp >= 0x370 && cp <= 0x3FF) 2 // Greek
    else if (cp >= 0x400 && cp <= 0x4FF) 1 // Cyrillic
    else if (cp >= 0x590 && cp <= 0x5FF) 4 // Hebrew
    else if (cp >= 0x600 && cp <= 0x6FF) 3 // Arabic
    else if (cp >= 0x900 && cp <= 0x97F) 5 // Devanagari
    else if (cp >= 0x3040 && cp <= 0x30FF) 6 // Hiragana + Katakana
    else if (cp >= 0x4E00 && cp <= 0x9FFF) 6 // CJK Unified
    else if (cp >= 0xAC00 && cp <= 0xD7AF) 7 // Hangul syllables
    else if (cp == ' ' || cp == '\t' || cp == '\n' || cp == '\r') 9
    else 10
  }

  /** Called from generated code. */
  def evalString(s: UTF8String): ArrayData = {
    val str = s.toString
    val counts = new Array[Long](NumClasses)
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      counts(scriptClass(cp)) += 1
      i += Character.charCount(cp)
    }
    UnsafeArrayData.fromPrimitiveArray(counts)
  }
}

object ScriptCounts {
  def script_counts(c: Column): Column = toColumn(ScriptCountsExpr(toExpr(c)))
}

/** Unicode diacritic folding: NFD-decompose, drop combining marks
  * (Mn), NFC-recompose the remainder — 'café' → 'cafe', 'Škoda' →
  * 'Skoda', while Ł/ø/ß/æ/þ (not combining compositions) pass through
  * unchanged. This is exactly DuckDB's `strip_accents` semantics on
  * the Latin repertoire (parity pinned by PerceptualSpec over the
  * committed alphabet), which is what lets the oracle replay it. The
  * multilingual-normalization companion to `TextAnalysis.foldWidth`:
  * accent-insensitive match keys for dedup and search.
  *
  * Native expression: per-row text normalization at 100 TB must stay
  * inside the codegen'd task loop, not in a UDF encoder round-trip.
  * ASCII fast path: no char ≥ 0xC0 → return the input string as-is
  * (zero allocation), which is the overwhelming branch on web text.
  */
case class FoldDiacriticsExpr(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"fold_diacritics needs a string input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    FoldDiacriticsExpr.fold(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.FoldDiacriticsExpr.fold($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "fold_diacritics"
}

object FoldDiacriticsExpr {
  /** Called from generated code. */
  def fold(s: UTF8String): UTF8String = {
    val str = s.toString
    var i = 0
    var hasHigh = false
    while (i < str.length && !hasHigh) {
      if (str.charAt(i) >= 0xC0) hasHigh = true
      i += 1
    }
    if (!hasHigh) return s
    val nfd = java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(str.length)
    var k = 0
    while (k < nfd.length) {
      val ch = nfd.charAt(k)
      if (Character.getType(ch) != Character.NON_SPACING_MARK) sb.append(ch)
      k += 1
    }
    UTF8String.fromString(
      java.text.Normalizer.normalize(sb.toString, java.text.Normalizer.Form.NFC))
  }

  def fold_diacritics(c: Column): Column = toColumn(FoldDiacriticsExpr(toExpr(c)))
}
