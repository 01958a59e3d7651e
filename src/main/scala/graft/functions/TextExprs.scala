package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the §2.0.7 polynomial string hash
  * (SURVEY §4.3 class, added r16).
  *
  * Why: `api.Text.polyHash` is an interpreted HOF —
  * `aggregate(sequence(1, length(c)), 0L,
  *   (a, i) -> (a*131 + ascii(substring(c, i, 1))) % 1000000007)` —
  * which pays a lambda dispatch + boxing per character AND an
  * O(position) `substring` re-scan per character (O(len²) per string).
  * This expression folds the identical Horner recurrence in one pass
  * over the string's code points: `ascii(substring(c, i, 1))` is by
  * definition the numeric value of the i-th character, i.e. the i-th
  * code point, so the integers are bit-identical to the HOF form (and
  * to the DuckDB `list_reduce` twin). TextExprsSpec pins the equality
  * on the full multilingual fixture corpus plus synthetic CJK/emoji
  * edges.
  */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_polyhash expects string, got ${child.dataType.sql}")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_polyhash"

  override protected def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PolyHash.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PolyHash {
  /** One-pass Horner fold over the string's code points, mod 1e9+7 —
    * called from both interpreted eval and generated code. */
  def hash(s: UTF8String): Long = {
    val str = s.toString
    var a = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      a = (a * 131L + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    a
  }
}

/** Whole-document RAKE kernel (added r17, §4 + §2.4 of the
  * optimization guide): `graft_rake_top(tokens, stops)` computes, for
  * ONE document's token array and the corpus stop list, the full RAKE
  * readout — candidate phrases are maximal runs of non-stop tokens
  * (empty tokens are skipped without breaking a run, matching the
  * `token <> ''` pre-filter of the exploded form), each word scores
  * `(1000 * degree) div freq` over the doc's phrases, a phrase scores
  * the sum of its occurrences' word scores, and the winner is the
  * (score_milli DESC, phrase ASC) top — phrase order compared on
  * UTF-8 bytes, exactly Spark's/DuckDB's binary string order.
  * Returns `struct(phrase, n_words, score_milli)`, or null when the
  * doc has no candidate phrase (only stop/empty tokens).
  *
  * Why: the exploded formulation shuffles the token-scale corpus once
  * for the per-doc run-id window and twice more for the degree/score
  * joins, all to compute a quantity that is a pure per-document
  * function of (tokens, stop set). This kernel makes it ONE map-side
  * pass over the documents table — the only corpus-scale work left in
  * q_text_rake is the stop-list top-10 aggregation. Every integer is
  * the same exact bigint arithmetic as the exploded form (positive
  * operands throughout, so Java `/` == SQL `div`); TextExprsSpec pins
  * equality against the exploded reference on the fixture corpus. */
case class RakeTop(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_rake_top expects (array<string>, array<string>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = RakeTop.outType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_rake_top"

  override protected def nullSafeEval(t: Any, s: Any): Any =
    RakeTop.top(t.asInstanceOf[ArrayData], s.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, s) => {
      s"""
         |${ev.value} = graft.functions.RakeTop.top($t, $s);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object RakeTop {
  val outType: StructType = StructType(Seq(
    StructField("phrase", StringType, nullable = false),
    StructField("n_words", LongType, nullable = false),
    StructField("score_milli", LongType, nullable = false)))

  /** One-doc RAKE: see [[RakeTop]]. Called from interpreted eval and
    * generated code. Returns null when the doc yields no phrase. */
  def top(tokens: ArrayData, stops: ArrayData): InternalRow = {
    val ns = stops.numElements()
    val stopSet = new java.util.HashSet[UTF8String](math.max(ns * 2, 4))
    var i = 0
    while (i < ns) {
      val st = stops.getUTF8String(i)
      if (st != null) stopSet.add(st)
      i += 1
    }
    val n = tokens.numElements()
    // members in doc order with their phrase (run) id; runs break on
    // stop tokens only — empties are skipped silently (they are
    // filtered before the window in the exploded form).
    val members = new java.util.ArrayList[UTF8String]()
    val phraseOf = new Array[Int](math.max(n, 1))
    var nPhrases = 0
    var curLen = 0
    val lensBuf = new java.util.ArrayList[Integer]()
    i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      if (t != null && t.numBytes() > 0) {
        if (stopSet.contains(t)) {
          if (curLen > 0) { lensBuf.add(curLen); nPhrases += 1; curLen = 0 }
        } else {
          phraseOf(members.size()) = nPhrases
          members.add(t)
          curLen += 1
        }
      }
      i += 1
    }
    if (curLen > 0) { lensBuf.add(curLen); nPhrases += 1 }
    val m = members.size()
    if (m == 0) return null
    val phraseLen = new Array[Long](nPhrases)
    i = 0
    while (i < nPhrases) { phraseLen(i) = lensBuf.get(i).longValue(); i += 1 }
    // word stats: degree = Σ len(phrase of occurrence), freq = #occ
    val wstat = new java.util.HashMap[UTF8String, Array[Long]](m * 2)
    i = 0
    while (i < m) {
      var st = wstat.get(members.get(i))
      if (st == null) { st = new Array[Long](2); wstat.put(members.get(i), st) }
      st(0) += phraseLen(phraseOf(i))
      st(1) += 1L
      i += 1
    }
    // phrase scores: Σ over member occurrences of (1000*degree) div freq
    val score = new Array[Long](nPhrases)
    i = 0
    while (i < m) {
      val st = wstat.get(members.get(i))
      score(phraseOf(i)) += (1000L * st(0)) / st(1)
      i += 1
    }
    // phrase start offsets in members
    val start = new Array[Int](nPhrases)
    i = 1
    while (i < nPhrases) {
      start(i) = start(i - 1) + phraseLen(i - 1).toInt; i += 1
    }
    def phraseStr(p: Int): UTF8String = {
      val len = phraseLen(p).toInt
      val parts = new Array[UTF8String](len)
      var j = 0
      while (j < len) { parts(j) = members.get(start(p) + j); j += 1 }
      UTF8String.concatWs(RakeTop.space, parts: _*)
    }
    // argmax by (score desc, phrase asc); phrase strings built only
    // for candidates at the running max score.
    var bestP = 0
    var bestStr: UTF8String = null
    i = 1
    while (i < nPhrases) {
      if (score(i) > score(bestP)) { bestP = i; bestStr = null }
      else if (score(i) == score(bestP)) {
        if (bestStr == null) bestStr = phraseStr(bestP)
        val cand = phraseStr(i)
        if (cand.compareTo(bestStr) < 0) { bestP = i; bestStr = cand }
      }
      i += 1
    }
    if (bestStr == null) bestStr = phraseStr(bestP)
    new GenericInternalRow(Array[Any](bestStr, phraseLen(bestP), score(bestP)))
  }

  private val space = UTF8String.fromString(" ")
}

/** Whole-document Karp-Rabin fingerprint kernel (added r17, guide
  * §4 + §2.3): `graft_fingerprint(text)` computes BOTH fingerprints of
  * q_text_fingerprint — fp_prefix = (Σ_{i≤32} code_i·131^(i−1)) mod
  * (10⁹+7) over the first 32 characters and fp_full =
  * (Σ_i code_i·((i mod 64)+1)) mod (10⁹+7) over all of them — in ONE
  * pass over the string's code points. Returns null for the empty
  * string (the exploded form emits no char rows there, so the doc
  * drops out of the inner join; callers filter nulls to keep that
  * semantics).
  *
  * Why: the exploded formulation materializes one row PER CHARACTER
  * (a length(text)× row blowup), scans that frame twice (prefix agg +
  * full agg), broadcast-joins the power table and hash-joins the two
  * halves back together — all to compute a pure per-document
  * projection. `ascii(substring(text, i, 1))` is the i-th code point
  * (the PolyHash precedent), intermediate per-step mods leave the
  * mod-P residue unchanged, and every product stays far inside int64
  * (max code point 0x10FFFF × max weight (P−1) < 2⁶³), so the longs
  * are bit-identical to the exploded form on any input. TextExprsSpec
  * pins equality against the exploded reference on the fixture corpus
  * plus boundary/unicode edges. */
case class Fingerprint(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_fingerprint expects string, got ${child.dataType.sql}")

  override def dataType: DataType = Fingerprint.outType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_fingerprint"

  override protected def nullSafeEval(input: Any): Any =
    Fingerprint.fp(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.Fingerprint.fp($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Fingerprint {
  val outType: StructType = StructType(Seq(
    StructField("fp_prefix", LongType, nullable = false),
    StructField("fp_full", LongType, nullable = false)))

  private val P = 1000000007L
  private val B = 131L

  /** One-pass fold over the code points; null for the empty string.
    * Called from interpreted eval and generated code. */
  def fp(s: UTF8String): InternalRow = {
    val str = s.toString
    val n = str.length
    var j = 0 // java char index
    var i = 0L // 0-based code-point position
    var pref = 0L
    var pw = 1L // 131^i mod P, the powTable recurrence
    var full = 0L
    while (j < n) {
      val cp = str.codePointAt(j)
      if (i < 32) {
        pref = (pref + cp * pw) % P
        pw = pw * B % P
      }
      full = (full + cp * (((i + 1) % 64) + 1)) % P
      i += 1
      j += Character.charCount(cp)
    }
    if (i == 0) null
    else new GenericInternalRow(Array[Any](pref, full))
  }
}
