package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{ColUtil, TextExpressions}
import graft.sources.Tables

/** The native md5 key kernel ([[graft.functions.Md5Keys]]) and the
  * native SimHash digests are bit-equal to the per-element lambda forms
  * the operators used before, which live here only as references. Every
  * (n, bits, distinct) used in src/main is checked on the whole sf0.01
  * corpus plus planted edge cases, through both the generated-code and
  * the interpreted path.
  */
class Md5KeysSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** The (n, bits, distinct) settings of the operators: decontaminate,
    * novelty and spans (8, 60, ±distinct), Dedup's gram sets (3, 60,
    * distinct), repetition and DSIR (1, 28).
    */
  private val settings = Seq((8, 60, true), (8, 60, false), (3, 60, true), (1, 28, false))

  /** The per-element lambda form: one md5 per window position. The
    * n = 1 sites mapped the digest over the tokens directly. */
  private def reference(tokens: Column, n: Int, bits: Int, distinct: Boolean): Column = {
    def key(s: Column): Column =
      conv(substring(md5(s.cast("binary")), 1, bits / 4), 16, 10).cast(LongType)
    val keys =
      if (n == 1) transform(tokens, key(_))
      else transform(ColUtil.posRange(size(tokens) - lit(n - 1)),
        i => key(array_join(slice(tokens, i, lit(n)), " ")))
    if (distinct) array_distinct(keys) else keys
  }

  private def tokens: Column = split(lower(trim(col("text"))), " ")

  private val plantedTexts = Seq[String](
    null,
    "",
    "two words",
    "a  b   c  d e f g  h i",
    Seq.fill(4)("one two three four five six seven eight nine").mkString(" "),
    "x y z x y z x y z x y z",
    "café naïve über straße 東京 タワー emoji 😀 ünïcödé ok done",
    "seven tokens are not enough for eight")
  /** Planted edge cases as doc ids -1, -2, …, held in an RDD so no
    * optimizer rule folds the projection into a local relation before
    * codegen sees it. */
  private def planted: DataFrame = spark.sparkContext
    .parallelize(plantedTexts.zipWithIndex.map { case (t, i) => (-1L - i, t) })
    .toDF("doc_id", "text")

  private def corpus: DataFrame =
    Tables.documents(spark, "/root/testdata/sf0.01").select("doc_id", "text")
      .unionByName(planted)

  /** Runs `body` once with every expression compiled (a Janino failure
    * throws instead of falling back) and once fully interpreted. */
  private def bothPaths[T](body: => T): Seq[(String, T)] = {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      Seq("codegen" -> Seq("CODEGEN_ONLY", "true"), "interpreted" -> Seq("NO_CODEGEN", "false"))
        .map { case (mode, values) =>
          keys.zip(values).foreach { case (k, v) => spark.conf.set(k, v) }
          mode -> body
        }
    } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("md5Keys equals the per-element lambda form for every setting in use") {
    for ((mode, rows) <- bothPaths(corpus.select(col("doc_id") +: settings.flatMap {
        case (n, bits, d) => Seq(TextExpressions.md5Keys(tokens, n, bits, d),
          reference(tokens, n, bits, d)) }: _*).collect())) {
      assert(rows.length === 508)
      for (r <- rows; ((n, bits, d), s) <- settings.zipWithIndex) {
        val (native, ref) = (r.get(1 + 2 * s), r.get(2 + 2 * s))
        val what = s"$mode doc ${r.getLong(0)} (n=$n, bits=$bits, distinct=$d)"
        if (r.getLong(0) == -1L) {
          // a null token array gives null; the n > 1 lambda form gave
          // an empty array there, which every site explodes (no rows)
          // or sizes together with its pair (a NULL score either way)
          assert(native == null, what)
          assert(ref == (if (n == 1) null else Seq.empty), what)
        } else assert(native === ref, what)
      }
    }
  }

  test("md5Keys edge cases: short, empty-token, repeated and non-ASCII rows") {
    val got = planted.select(col("doc_id"),
        TextExpressions.md5Keys(tokens, 8, 60, distinct = false).as("all"),
        TextExpressions.md5Keys(tokens, 8, 60, distinct = true).as("set"),
        TextExpressions.md5Keys(tokens, 1, 28).as("tok"))
      .collect().map(r => r.getLong(0) -> r).toMap
    def keys(id: Long, c: String) = got(id).getAs[collection.Seq[Long]](c).toSeq
    def nTokens(id: Long) = plantedTexts((-1L - id).toInt).split(" ", -1).length
    assert(got(-1L).isNullAt(1) && got(-1L).isNullAt(3))
    // "" splits into one empty token: a key of md5(""), no 8-gram
    assert(keys(-2L, "tok") === Seq(java.lang.Long.parseLong("d41d8cd", 16)))
    assert(keys(-2L, "all").isEmpty && keys(-3L, "all").isEmpty && keys(-8L, "all").isEmpty)
    // double spaces give empty tokens, each one key
    assert(nTokens(-4L) === 14)
    assert(keys(-4L, "tok").length === 14 && keys(-4L, "all").length === 7)
    // a 9-token cycle repeated 4 times: 29 windows, 9 distinct, in
    // first-occurrence order
    val all = keys(-5L, "all")
    assert(all.length === 29 && keys(-5L, "set") === all.take(9))
    assert(keys(-6L, "set") === keys(-6L, "all").take(3))
    assert(keys(-6L, "tok").distinct.length === 3)
    assert(keys(-7L, "tok").length === nTokens(-7L) && keys(-7L, "all").length === nTokens(-7L) - 7)
    assert((all ++ keys(-7L, "all")).forall(k => k >= 0 && k < (1L << 60)))
    assert(keys(-7L, "tok").forall(k => k >= 0 && k < (1L << 28)))
  }

  test("md5LowNibbles equals the last hex digit of each token's md5") {
    val ref = transform(tokens,
      t => conv(substring(md5(t.cast("binary")), 32, 1), 16, 10).cast("int"))
    for ((mode, rows) <- bothPaths(corpus.select(col("doc_id"),
        TextExpressions.md5LowNibbles(tokens), ref).collect())) {
      assert(rows.length === 508)
      for (r <- rows)
        assert(r.get(1) === r.get(2), s"$mode doc ${r.getLong(0)}")
      assert(rows.exists(r => r.getLong(0) == -1L && r.isNullAt(1)), mode)
      // the passage anchor rate: about 1 token in 16 has nibble 0
      val nib = rows.filterNot(_.isNullAt(1)).flatMap(_.getSeq[Int](1))
      assert(nib.count(_ == 0) * 16 > nib.length / 2 && nib.forall(x => x >= 0 && x < 16), mode)
    }
  }

  test("simhash from raw digests equals the md5-hex nibble rule on sf0.01") {
    // the old form: Spark's md5 hex per token, bit j set iff most
    // digests have hex nibble j ≥ '8'
    val hex = corpus.filter(col("text").isNotNull)
      .select(col("doc_id"), transform(tokens, t => md5(t.cast("binary"))).as("tms"))
      .collect().map { r =>
        val tms = r.getSeq[String](1)
        r.getLong(0) -> (0 until 32).map { j =>
          if (tms.count(_.charAt(j) >= '8') * 2 > tms.length) '1' else '0'
        }.mkString
      }.toMap
    assert(hex.size === 507)
    for ((mode, rows) <- bothPaths(
        corpus.select(col("doc_id"), TextExpressions.simhash32(tokens)).collect())) {
      val native = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(native(-1L) == null, mode)
      assert((native - -1L) === hex, mode)
    }
  }
}
