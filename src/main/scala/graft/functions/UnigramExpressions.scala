package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the unigram-LM tokenizer's per-word
  * dynamic programs (r17 optimization round, the CharCounts/
  * BpeApplyMerges lesson applied to the EM hot path): the declarative
  * HOF forms in [[graft.operators.UnigramLm]] build expression trees
  * whose ANALYSIS/optimization alone cost ~1 s per EM scan (the word
  * dictionary is Zipf-tiny, so planning dominated the round), and
  * their nested aggregate/transform lambdas evaluate interpreted.
  * Each expression here is ONE plan node carrying the vocabulary-scale
  * cost map as a reference object — constant plan size in the
  * vocabulary, real-Java eval, same generated-code shape whatever the
  * artifact size.
  *
  * Semantics are EXACTLY the declarative forms' (UnigramSpec pins
  * equality on fixtures including multi-script and unseen-alphabet
  * words): same 1..maxLen candidate order, same strict-less argmin
  * (ties keep the shortest piece), same traceback, and for the soft
  * E-step the same left-to-right term-sum order, the same
  * ((α·p)·β)/Z association and the same round-half-up quantization —
  * bit-identical Longs and doubles throughout.
  */
object UnigramDpHelper {
  private val Inf = Long.MaxValue / 4

  /** The micro-bit cost map keyed by UTF8String, as [[viterbi]] reads it. */
  def costTable(costs: Map[String, Long]): java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long](costs.size * 2)
    costs.foreach { case (p, c) =>
      m.put(UTF8String.fromString(p), java.lang.Long.valueOf(c)) }
    m
  }

  /** Piece probabilities 2^(−cost/1e6) keyed by UTF8String, as
    * [[fbExpected]] reads them.
    */
  def probTable(costs: Map[String, Long]): java.util.HashMap[UTF8String, java.lang.Double] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Double](costs.size * 2)
    costs.foreach { case (p, c) =>
      m.put(UTF8String.fromString(p),
        java.lang.Double.valueOf(StrictMath.pow(2.0, -(c.toDouble / 1e6)))) }
    m
  }

  /** Viterbi segmentation — [[graft.operators.UnigramLm.viterbiPieces]]
    * as one Java DP (cost map lookups on UTF8String keys).
    */
  def viterbi(word: UTF8String,
              costs: java.util.HashMap[UTF8String, java.lang.Long],
              maxLen: Int): ArrayData = {
    val n = word.numChars()
    if (n == 0) return new GenericArrayData(new Array[Any](0))
    val dpCost = new Array[Long](n + 1)
    val dpFrom = new Array[Int](n + 1)
    dpCost(0) = 0L; dpFrom(0) = -1
    var i = 1
    while (i <= n) {
      // arm len=1 first (the reduceLeft seed), then strictly-less
      // replacement in len order — ties keep the shortest piece
      var bestCost = Inf
      var bestFrom = i - 1
      var len = 1
      while (len <= maxLen) {
        if (len <= i) {
          val pc = costs.get(word.substringSQL(i - len + 1, len))
          if (pc != null && dpCost(i - len) < Inf) {
            val c = dpCost(i - len) + pc.longValue()
            if (c < bestCost) { bestCost = c; bestFrom = i - len }
          }
        }
        len += 1
      }
      dpCost(i) = bestCost; dpFrom(i) = bestFrom
      i += 1
    }
    val out = new java.util.ArrayList[UTF8String]()
    var pos = n
    while (pos > 0) {
      val f = dpFrom(pos)
      out.add(word.substringSQL(f + 1, pos - f))
      pos = f
    }
    val arr = new Array[Any](out.size)
    var k = 0
    val m = out.size
    while (k < m) { arr(k) = out.get(m - 1 - k); k += 1 }
    new GenericArrayData(arr)
  }

  /** Forward–backward expected piece usage —
    * [[graft.operators.UnigramLm.fbExpectedNanoDeclarative]] as one Java
    * pass (the soft E-step of `UnigramLm.train`).
    * Term-sum order and the ((α·p)·β)/Z association match the
    * declarative fold exactly, so every emitted nano Long is
    * bit-identical.
    */
  def fbExpected(word: UTF8String,
                 probs: java.util.HashMap[UTF8String, java.lang.Double],
                 quantum: Double, maxLen: Int): ArrayData = {
    val n = word.numChars()
    if (n == 0) return new GenericArrayData(new Array[Any](0))
    val alpha = new Array[Double](n + 1)
    alpha(0) = 1.0
    var i = 1
    while (i <= n) {
      var s = 0.0
      var len = 1
      while (len <= maxLen) {
        if (len <= i) {
          val p = probs.get(word.substringSQL(i - len + 1, len))
          if (p != null) s += alpha(i - len) * p.doubleValue()
          else s += 0.0
        } else s += 0.0
        len += 1
      }
      alpha(i) = s
      i += 1
    }
    // betaRev(j) = β(n−j); β(n) = 1
    val betaRev = new Array[Double](n + 1)
    betaRev(0) = 1.0
    var j = 1
    while (j <= n) {
      var s = 0.0
      var len = 1
      while (len <= maxLen) {
        if (len <= j) {
          val p = probs.get(word.substringSQL(n - j + 1, len))
          if (p != null) s += p.doubleValue() * betaRev(j - len)
          else s += 0.0
        } else s += 0.0
        len += 1
      }
      betaRev(j) = s
      j += 1
    }
    val z = alpha(n)
    val out = new java.util.ArrayList[InternalRow]()
    i = 1
    while (i <= n) {
      var l = 1
      while (l <= maxLen) {
        if (l <= i) {
          val piece = word.substringSQL(i - l + 1, l)
          val p = probs.get(piece)
          if (p != null && z > 0.0) {
            val e = alpha(i - l) * p.doubleValue() * betaRev(n - i) / z
            val nano = java.lang.Math.floor(e * quantum + 0.5).toLong
            out.add(new GenericInternalRow(
              Array[Any](nano, piece)))
          }
        }
        l += 1
      }
      i += 1
    }
    val arr = new Array[Any](out.size)
    var k = 0
    while (k < out.size) { arr(k) = out.get(k); k += 1 }
    new GenericArrayData(arr)
  }

  /** Every substring of length 1..maxLen, occurrence-counted in
    * (position, length) order — [[graft.operators.UnigramLm]]'s seed
    * universe generator.
    */
  def substrings(word: UTF8String, maxLen: Int): ArrayData = {
    val n = word.numChars()
    val out = new java.util.ArrayList[UTF8String]()
    var i = 1
    while (i <= n) {
      val top = math.min(maxLen, n - i + 1)
      var l = 1
      while (l <= top) {
        out.add(word.substringSQL(i, l))
        l += 1
      }
      i += 1
    }
    val arr = new Array[Any](out.size)
    var k = 0
    while (k < out.size) { arr(k) = out.get(k); k += 1 }
    new GenericArrayData(arr)
  }
}

/** word → Viterbi piece array under a literal micro-bit cost map
  * carried as a plan reference object.
  */
case class UnigramViterbi(child: Expression, costs: Map[String, Long],
                          maxLen: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "unigram_viterbi"

  @transient private lazy val table: java.util.HashMap[UTF8String, java.lang.Long] =
    UnigramDpHelper.costTable(costs)

  override def nullSafeEval(v: Any): Any =
    UnigramDpHelper.viterbi(v.asInstanceOf[UTF8String], table, maxLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, w => {
      val ref = ctx.addReferenceObj("unigramCosts", table, "java.util.HashMap")
      s"${ev.value} = graft.functions.UnigramDpHelper.viterbi($w, $ref, $maxLen);"
    })
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object UnigramExpressions {
  def unigramViterbi(word: Column, costs: Map[String, Long],
                     maxLen: Int): Column =
    ColumnBridge.column(UnigramViterbi(ColumnBridge.expression(word),
      costs, maxLen))
}
