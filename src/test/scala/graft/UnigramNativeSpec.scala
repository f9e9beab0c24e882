package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.UnigramDpHelper
import graft.operators.UnigramLm

/** r17 optimization: the unigram DP hot path moved from declarative
  * HOF trees to native code (UnigramExpressions' Viterbi expression and
  * the `UnigramDpHelper` functions the training rounds call). These pin
  * the native forms BIT-EQUAL to the declarative references on words
  * covering the edge cases: multi-codepoint (non-BMP) text, unseen
  * alphabet (the INF char-split fallback), ties, and length-1 words.
  */
class UnigramNativeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val words = Seq(
    "hello", "a", "aaaa", "aaaaa", "banana", "überstraße",
    "日本語テキスト", "😀😀x", "mixedABCabc", "zzzz_unseen", "ab",
    "the", "longestwordhereisquitelong")

  // a cost map over the words' own substrings (plus gaps: drop some
  // pieces so backoff/fallback arms exercise), mirroring a trained map
  private val costs: Map[String, Long] = {
    val subs = words.flatMap { w =>
      for {
        i <- 0 until w.length
        l <- 1 to math.min(4, w.length - i)
        s = w.substring(i, i + l) if s.codePointCount(0, s.length) <= 4
      } yield s
    }.distinct
    subs.zipWithIndex.collect {
      // drop every 5th piece and the whole 'z'/'unseen' alphabet so
      // some words hit the INF per-char fallback path
      case (s, idx) if idx % 5 != 0 && !s.contains("z") =>
        s -> (1000000L + 37L * idx)
    }.toMap
  }

  test("native Viterbi bit-equals the declarative HOF form") {
    val df = words.toDF("word")
    val native = df.select(col("word"),
      UnigramLm.viterbiPieces(col("word"), costs).as("p"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val decl = df.select(col("word"),
      UnigramLm.viterbiPiecesDeclarative(col("word"), costs).as("p"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(native == decl)
    // sanity: segmentation is a partition of the word
    words.foreach(w => assert(native(w).mkString("") == w))
  }

  test("native forward-backward expected counts bit-equal the declarative form") {
    val df = words.toDF("word")
    def rows(c: org.apache.spark.sql.Column) = df
      .select(col("word"), explode(c).as("o"))
      .select(col("word"), col("o.piece"), col("o.nano"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // the helper the soft E-step's RDD rounds call, on the driver
    def helper(quantum: Double) = {
      val probs = UnigramDpHelper.probTable(costs)
      words.flatMap { w =>
        val os = UnigramDpHelper.fbExpected(UTF8String.fromString(w), probs,
          quantum, UnigramLm.MaxPieceLen)
        (0 until os.numElements()).map { i =>
          val o = os.getStruct(i, 2)
          (w, o.getUTF8String(1).toString, o.getLong(0))
        }
      }
    }
    val native = helper(1e9)
    val decl = rows(UnigramLm.fbExpectedNanoDeclarative(col("word"), costs))
    assert(native == decl)
    assert(native.nonEmpty)
    // non-default quantum too (the 100 TB headroom knob)
    val n2 = helper(1e3)
    val d2 = rows(UnigramLm.fbExpectedNanoDeclarative(col("word"), costs, 1e3))
    assert(n2 == d2)
  }

  test("native substrings bit-equals the declarative form") {
    val df = words.toDF("word")
    // the helper the seed round calls, on the driver
    val native = words.map { w =>
      val subs = UnigramDpHelper.substrings(UTF8String.fromString(w),
        UnigramLm.MaxPieceLen)
      w -> (0 until subs.numElements()).map(subs.getUTF8String(_).toString)
    }.toMap
    val decl = df.select(col("word"),
      UnigramLm.substringsDeclarative(col("word")).as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(native == decl)
    assert(native("aaaa").count(_ == "a") == 4)
  }
}
