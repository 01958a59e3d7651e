package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}

/** Native Jaro–Winkler similarity (SURVEY §4.3 class (b): a scalar
  * the built-in function set lacks — Spark has levenshtein but no
  * Jaro family, while the DuckDB oracle ships
  * jaro_winkler_similarity natively).
  *
  * Semantics pinned to the oracle by probe (r16): match window
  * floor(max(|a|,|b|)/2)−1, greedy left-to-right matching,
  * transpositions = half the out-of-order matched chars, and the
  * Winkler prefix bonus (≤4 chars, scale 0.1) applied ONLY when the
  * Jaro similarity exceeds 0.7 — `jaro_winkler_similarity('abcdxxxxxx',
  * 'abcdyyyyyy')` = 0.6 exactly, not 0.76, on DuckDB 1.0. The
  * similarity expression is a fixed dag over exact integers
  * (m, t, lengths, prefix), so cross-engine agreement survives the
  * 6-dp output rounding.
  *
  * CodegenFallback is a documented choice: every consumer evaluates
  * it on a BLOCKED, domain-bounded pair frame (never per row of a
  * fact table), so interpreted dispatch is off the hot path. */
case class JaroWinkler(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_jaro_winkler expects (string, string), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaro_winkler"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val s1 = a.asInstanceOf[UTF8String].toString
    val s2 = b.asInstanceOf[UTF8String].toString
    JaroWinkler.similarity(s1, s2)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {

  /** The scalar kernel — exposed for the spec's JVM re-derivation. */
  def similarity(s1: String, s2: String): Double = {
    val (len1, len2) = (s1.length, s2.length)
    if (len1 == 0 || len2 == 0)
      return if (len1 == len2) 1.0 else 0.0
    val window = math.max(0, math.max(len1, len2) / 2 - 1)
    val matched1 = new Array[Boolean](len1)
    val matched2 = new Array[Boolean](len2)
    var m = 0
    var i = 0
    while (i < len1) {
      val lo = math.max(0, i - window)
      val hi = math.min(len2 - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!matched2(j) && s1.charAt(i) == s2.charAt(j)) {
          matched1(i) = true; matched2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: matched chars compared in order of appearance
    var t = 0
    var k = 0
    i = 0
    while (i < len1) {
      if (matched1(i)) {
        while (!matched2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val jaro = (m.toDouble / len1 + m.toDouble / len2 +
      (m - t / 2).toDouble / m) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    val maxPrefix = math.min(4, math.min(len1, len2))
    while (l < maxPrefix && s1.charAt(l) == s2.charAt(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }
}
