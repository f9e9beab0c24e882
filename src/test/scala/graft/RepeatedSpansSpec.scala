package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextOps
import graft.sources.Tables

/** The ExactSubstr family (TextOps.repeatedSpans / scrub / summary /
  * incremental): every assertion here is against an INDEPENDENT
  * in-memory reference (string n-grams, brute-force counts, interval
  * union) or a closed-form planted fixture — never against the
  * operator's own machinery.
  */
class RepeatedSpansSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def docs = Tables.documents(spark, sf)

  /** Independent reference: duplicated-position spans by brute force.
    * Returns (doc_id, span_start, span_end, n_span_tokens, n_dup_grams)
    * sorted like the operator.
    */
  private def refSpans(corpus: Seq[(Long, String)], n: Int,
      minSpan: Int): Seq[(Long, Long, Long, Long, Long)] = {
    val toks = corpus.map { case (id, t) =>
      id -> t.trim.toLowerCase.split(" ", -1).toSeq
    }
    val grams = for {
      (id, tk) <- toks
      i <- 1 to (tk.length - n + 1)
    } yield (id, i.toLong, tk.slice(i - 1, i - 1 + n).mkString(" "))
    val counts = grams.groupBy(_._3).map { case (g, o) => g -> o.size }
    val dupPos = grams.filter(g => counts(g._3) >= 2)
      .groupBy(_._1).map { case (id, o) => id -> o.map(_._2).sorted }
    dupPos.toSeq.flatMap { case (id, ps) =>
      // islands over intervals [p, p+n-1]: break when gap > n
      val islands = ps.foldLeft(Vector.empty[Vector[Long]]) { (acc, p) =>
        if (acc.nonEmpty && p - acc.last.last <= n) acc.init :+ (acc.last :+ p)
        else acc :+ Vector(p)
      }
      islands.map { isl =>
        val s = isl.head
        val e = isl.last + n - 1
        (id, s, e, e - s + 1, isl.size.toLong)
      }.filter(_._4 >= minSpan)
    }.sortBy(r => (r._1, r._2))
  }

  test("repeated_spans matches the independent reference on the sf0.001 corpus") {
    val corpus = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = refSpans(corpus, TextOps.SpanGramN, TextOps.SpanGramN)
    val got = TextOps.repeatedSpans(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got.nonEmpty, "sf0.001 must contain at least one duplicated 8-gram")
    assert(got === expected)
  }

  /** Shared 12-token run planted at DIFFERENT offsets in two docs —
    * the alignment case non-overlapping chunking can miss.
    */
  private lazy val plantedShared = {
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    Seq(
      (1L, s"unique prefix one two three $run", "en", "srcA", 1L),
      (2L, s"$run entirely different suffix here now", "en", "srcB", 1L),
      (3L, "nothing duplicated in this document at all whatsoever today", "en", "srcA", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("planted shared run is found at both offsets with exact boundaries") {
    // n=4: the 12-token run has 9 duplicated 4-gram positions per host
    val got = TextOps.repeatedSpans(plantedShared, n = 4, minSpan = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // doc 1: run occupies tokens 6..17; doc 2: tokens 1..12
    assert(got.toSet === Set(
      (1L, 6L, 17L, 12L, 9L),
      (2L, 1L, 12L, 12L, 9L)))
  }

  test("within-document self-repeat is duplicated (the suffix-array criterion)") {
    val selfRep = Seq(
      (1L, "one two three four five x y z one two three four five", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.repeatedSpans(selfRep, n = 5, minSpan = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // "one two three four five" at positions 1..5 and 9..13
    assert(got.toSet === Set((1L, 1L, 5L), (1L, 9L, 13L)))
  }

  test("HONESTY PIN: different-partner grams chain into a span that occurs nowhere verbatim") {
    // n=3: doc 1's (a b c) duplicates against doc 2, (d e f) against
    // doc 3; interior grams are unique. Positions 1 and 4 (gap = n)
    // cover tokens 1..6 contiguously, so ONE span [1,6] is reported —
    // although "a b c d e f" as a whole occurs in no other document.
    // This is the documented union-of-duplicated-grams semantics
    // over-approximating the suffix-array guarantee.
    val chained = Seq(
      (1L, "a b c d e f", "en", "s", 1L),
      (2L, "a b c q r s t", "en", "s", 1L),
      (3L, "u v w d e f", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.repeatedSpans(chained, n = 3, minSpan = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.filter(_._1 == 1L).toSet === Set((1L, 1L, 6L, 6L, 2L)))
  }

  test("minSpan filters short spans; a gap > n splits islands") {
    val gapped = Seq(
      // dup 3-gram at pos 1 and another at pos 8 (gap 7 > 3): two islands
      (1L, "a b c x1 x2 x3 x4 d e f", "en", "s", 1L),
      (2L, "a b c y1 y2 y3 y4 y5 y6", "en", "s", 1L),
      (3L, "z1 z2 z3 z4 z5 z6 z7 d e f", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val spans = TextOps.repeatedSpans(gapped, n = 3, minSpan = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spans.filter(_._1 == 1L).toSet === Set((1L, 1L, 3L), (1L, 8L, 10L)))
    // raising minSpan above the island length drops them
    assert(TextOps.repeatedSpans(gapped, n = 3, minSpan = 4)
      .filter(col("doc_id") === 1L).count() === 0L)
  }

  test("scrub removes the span from EVERY host (no owner exemption), rebuild is exact") {
    val got = TextOps.repeatedSpanScrub(plantedShared, n = 4, minSpan = 4)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(1L) === ((17L, 1L, 12L, "unique prefix one two three")))
    assert(got(2L) === ((17L, 1L, 12L, "entirely different suffix here now")))
    // no spans: passes through normalized, zero accounting
    assert(got(3L) === ((9L, 0L, 0L,
      "nothing duplicated in this document at all whatsoever today")))
  }

  test("scrub matches reference token accounting on sf0.001") {
    val corpus = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val spans = refSpans(corpus, TextOps.SpanGramN, TextOps.SpanGramN)
      .groupBy(_._1).map { case (id, ss) => id -> ss.map(_._4).sum }
    val got = TextOps.repeatedSpanScrub(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    corpus.foreach { case (id, _) =>
      assert(got(id) === spans.getOrElse(id, 0L), s"doc $id removed-token count")
    }
  }

  test("summary: per-source exposure matches hand math") {
    val got = TextOps.repeatedSpansSummary(plantedShared, n = 4, minSpan = 4)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // srcA: docs 1 (17 toks, 12 dup) and 3 (9 toks, 0 dup)
    assert(got("srcA") === ((2L, 1L, 26L, 12L, 12.0 / 26.0)))
    // srcB: doc 2 (17 toks, 12 dup)
    assert(got("srcB") === ((1L, 1L, 17L, 12L, 12.0 / 17.0)))
  }

  test("incremental == one-shot restricted to batch docs (frame equality)") {
    val corpus = docs.filter(col("doc_id") % 2 =!= 0)
    val batch = docs.filter(col("doc_id") % 2 === 0)
    val inc = TextOps.repeatedSpansIncremental(corpus, batch).collect().toSeq
    val oneShot = TextOps.repeatedSpans(docs)
      .filter(col("doc_id") % 2 === 0).collect().toSeq
    assert(inc.nonEmpty, "batch must contain at least one duplicated gram")
    assert(inc === oneShot)
  }

  test("span knobs cut where stated when passed explicitly") {
    // at n=4 the planted 12-token run exactly meets minSpan=12; one
    // token more and it is gone
    val got = TextOps.repeatedSpans(plantedShared, 4, 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSet === Set((1L, 6L, 17L), (2L, 1L, 12L)))
    assert(TextOps.repeatedSpans(plantedShared, 4, 13).count() === 0)
  }

  test("incremental counts duplication against the STANDING corpus") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch = Seq(
      // an arriving copy of standing text: duplicated even though the
      // batch alone holds one occurrence
      (2L, "alpha beta gamma delta epsilon zeta", "en", "s", 1L),
      (3L, "totally fresh arriving text right here", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.repeatedSpansIncremental(corpus, batch, n = 3, minSpan = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // only batch docs reported; doc 2 fully covered, doc 3 clean,
    // standing doc 1 never re-reported
    assert(got.toSet === Set((2L, 1L, 6L)))
  }
}
