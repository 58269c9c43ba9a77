package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Thresholded Levenshtein distance with a FAST banded DP: returns the
  * exact distance when <= k, -1 otherwise — the same contract as Spark's
  * 3-arg `levenshtein(l, r, k)`, which this replaces in pair-verify hot
  * loops. Spark's built-in indexes the operands with UTF8String.charAt
  * per DP cell — an O(position) scan for variable-width encodings — so
  * comparing two SIMILAR 300-char strings (the actual near-duplicates,
  * i.e. every output row) measured ~400µs/pair while far pairs early-exit
  * in ~2µs (round-7 measurement, recorded in ARCHITECTURE.md); the
  * verify stage's cost was dominated by its own hits. This expression
  * decodes each operand ONCE to a codepoint array (zero-copy byte walk
  * for ASCII) and runs the classic (2k+1)-band two-row DP with the
  * row-minimum early exit — O(k·n) cells at array-index cost, ~3µs for
  * the same near pair (~130x).
  *
  * Distance is over Unicode codepoints, matching both Spark's builtin and
  * DuckDB's `levenshtein` (the oracle side stays the unthresholded
  * `levenshtein(x, y) <= 5`, identical output by the threshold contract).
  */
case class BandedLevenshtein(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == StringType) && k >= 0
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "banded_levenshtein expects (string, string) inputs and k >= 0")
  }
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    BandedLevenshtein.compute(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.BandedLevenshtein.compute($a, $b, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BandedLevenshtein =
    copy(left = newLeft, right = newRight)
}

object BandedLevenshtein {
  def banded_levenshtein(a: Column, b: Column, k: Int): Column =
    ColumnBridge.column(BandedLevenshtein(
      ColumnBridge.expression(a), ColumnBridge.expression(b), k))

  /** Codepoints of `s`: a direct byte walk when pure ASCII (numChars ==
    * numBytes), else one toString decode — either way the DP below never
    * pays per-cell position scans.
    */
  private def codePoints(s: UTF8String): Array[Int] = {
    val nb = s.numBytes()
    if (s.numChars() == nb) {
      val out = new Array[Int](nb)
      var i = 0
      while (i < nb) { out(i) = s.getByte(i) & 0xFF; i += 1 }
      out
    } else s.toString.codePoints().toArray
  }

  /** Exact distance if <= k, else -1. Named `compute`, not `eval`: a
    * companion helper named `eval` gets no static forwarder (shadowed by
    * Expression.eval) and janino would silently fall back to interpreted.
    */
  def compute(l: UTF8String, r: UTF8String, k: Int): Int = {
    if (l.equals(r)) return 0 // memcmp fast path: identical = distance 0
    var a = codePoints(l)
    var b = codePoints(r)
    if (a.length > b.length) { val t = a; a = b; b = t }
    val n = a.length
    val m = b.length
    if (m - n > k) return -1
    if (n == 0) return if (m <= k) m else -1
    val INF = k + 1 // saturating cap: comparisons stay exact, no overflow
    var prev = new Array[Int](n + 1)
    var cur = new Array[Int](n + 1)
    var i = 0
    while (i <= n) { prev(i) = if (i <= k) i else INF; i += 1 }
    var j = 1
    while (j <= m) {
      val bj = b(j - 1)
      cur(0) = if (j <= k) j else INF
      val lo = math.max(1, j - k)
      val hi = math.min(n, j + k)
      if (lo > 1) cur(lo - 1) = INF // band's left neighbor for cur(lo)
      var rowMin = cur(0)
      var x = lo
      while (x <= hi) {
        val c =
          if (a(x - 1) == bj) prev(x - 1)
          else {
            val viaSub = prev(x - 1)
            val viaDel = prev(x)
            val viaIns = cur(x - 1)
            val mn = math.min(viaSub, math.min(viaDel, viaIns))
            if (mn >= INF) INF else mn + 1
          }
        cur(x) = c
        if (c < rowMin) rowMin = c
        x += 1
      }
      if (rowMin > k) return -1 // row minima never decrease over j
      if (hi < n) cur(hi + 1) = INF // next row reads prev(hi+1) as its viaDel
      val t = prev; prev = cur; cur = t
      j += 1
    }
    if (prev(n) <= k) prev(n) else -1
  }
}
