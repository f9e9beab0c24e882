package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text-dedup hot paths. Each one
  * replaces a higher-order-function pipeline that allocated intermediate
  * arrays per row; semantics (and thus the DuckDB oracle SQL) are
  * unchanged — specs and tools/crosscheck.py hold them to the same
  * results.
  */
object TextExpressions {
  /** Carter-Wegman mix constants shared by the Spark minhash expression
    * and the generated oracle SQL.
    */
  val MixP: Long = 2147483647L
  val MixA: Seq[Long] = Seq(1664525L, 22695477L, 69069L, 1103515245L,
    134775813L, 214013L, 16843009L, 1000000007L, 747796405L, 65793L,
    277803737L, 1812433253L)
  val MixB: Seq[Long] = Seq(1013904223L, 1L, 362437L, 12345L, 1L,
    2531011L, 826366247L, 998244353L, 2891336453L, 69069L, 4294967291L,
    1566083941L)

  def simhash32(tokens: Column): Column =
    ColumnBridge.column(SimHash32(ColumnBridge.expression(tokens)))
  def md5Keys(tokens: Column, n: Int, bits: Int, distinct: Boolean = false): Column =
    ColumnBridge.column(Md5Keys(ColumnBridge.expression(tokens), n, bits, distinct))
  def md5LowNibbles(tokens: Column): Column =
    ColumnBridge.column(Md5LowNibbles(ColumnBridge.expression(tokens)))
  def profileHitCounts(tokens: Column, profiles: Seq[Seq[String]]): Column =
    ColumnBridge.column(ProfileHitCounts(ColumnBridge.expression(tokens), profiles))
  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def shingleMinhash(s: Column, width: Int = 5): Column =
    ColumnBridge.column(ShingleMinHash(ColumnBridge.expression(s), width))
  def rollingHash31(s: Column): Column =
    ColumnBridge.column(RollingHash31(ColumnBridge.expression(s)))
  def charCounts(s: Column): Column =
    ColumnBridge.column(CharCounts(ColumnBridge.expression(s)))
  def bpeApplyMerges(word: Column, merges: Seq[(String, String)],
                     byteLevel: Boolean = false): Column =
    ColumnBridge.column(
      BpeApplyMerges(ColumnBridge.expression(word), merges, byteLevel))
}

/** Shared eval body of [[CharCounts]], also called from its generated
  * code: Janino compiles without generics support, so the TreeMap walk
  * lives here once instead of as raw-type gymnastics in codegen.
  */
object CharCountsHelper {
  def compute(s: UTF8String): ArrayData = {
    val str = s.toString
    val m = new java.util.TreeMap[Integer, Array[Long]]()
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val slot = m.get(cp)
      if (slot == null) m.put(cp, Array(1L)) else slot(0) += 1L
      i += Character.charCount(cp)
    }
    val out = new Array[Long](m.size)
    val it = m.values().iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next()(0); j += 1 }
    new GenericArrayData(out)
  }
}

/** Shared eval body of [[Md5Keys]] and [[SimHash32]], also called from
  * their generated code (the CharCountsHelper pattern). The elements
  * of a row are copied once into one buffer, each followed by a space,
  * so every window of consecutive elements joined by single spaces is
  * a contiguous byte range and is digested in place. Elements must be
  * non-null (the arrays come from `split`).
  */
object Md5KeysHelper {
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** The UTF-8 bytes of every element, each followed by one space;
    * element i starts at `starts(i)`, and `starts(k)` is the length.
    */
  private def spaced(tokens: ArrayData, starts: Array[Int]): Array[Byte] = {
    val k = tokens.numElements()
    var total = 0
    var i = 0
    while (i < k) {
      starts(i) = total
      total += tokens.getUTF8String(i).numBytes() + 1
      i += 1
    }
    starts(k) = total
    val buf = new Array[Byte](total)
    i = 0
    while (i < k) {
      tokens.getUTF8String(i).writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + starts(i))
      buf(starts(i + 1) - 1) = ' '
      i += 1
    }
    buf
  }

  /** Top `bits` bits of md5 over each window of `n` consecutive
    * elements joined by single spaces: the first 8 digest bytes as a
    * big-endian long, shifted right by 64 − bits — the value
    * conv(substring(md5(window), 1, bits/4), 16, 10) reads. With
    * `distinct`, later repeats of a key are dropped (array_distinct).
    */
  def keys(tokens: ArrayData, n: Int, bits: Int, distinct: Boolean): ArrayData = {
    val k = tokens.numElements()
    val m = math.max(k - n + 1, 0)
    val out = new Array[Long](m)
    var len = 0
    if (m > 0) {
      val starts = new Array[Int](k + 1)
      val buf = spaced(tokens, starts)
      val md = md5.get()
      val d = new Array[Byte](16)
      // open-addressing set of the keys seen so far; keys are ≥ 0, so
      // -1 marks an empty slot
      var mask = 0
      var seen: Array[Long] = null
      if (distinct) {
        var cap = 2
        while (cap < 2 * m) cap <<= 1
        mask = cap - 1
        seen = Array.fill(cap)(-1L)
      }
      var w = 0
      while (w < m) {
        md.update(buf, starts(w), starts(w + n) - 1 - starts(w))
        md.digest(d, 0, 16)
        var h = 0L
        var b = 0
        while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        val key = h >>> (64 - bits)
        var fresh = true
        if (distinct) {
          var s = (key ^ (key >>> 32)).toInt & mask
          while (seen(s) != -1L && seen(s) != key) s = (s + 1) & mask
          fresh = seen(s) == -1L
          seen(s) = key
        }
        if (fresh) { out(len) = key; len += 1 }
        w += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (len == m) out else java.util.Arrays.copyOf(out, len))
  }

  /** The low nibble of each element's md5: the digest's last hex
    * digit as a number, which substring(md5(x), 32, 1) reads.
    */
  def lowNibbles(tokens: ArrayData): ArrayData = {
    val k = tokens.numElements()
    val starts = new Array[Int](k + 1)
    val buf = spaced(tokens, starts)
    val md = md5.get()
    val d = new Array[Byte](16)
    val out = new Array[Int](k)
    var i = 0
    while (i < k) {
      md.update(buf, starts(i), starts(i + 1) - 1 - starts(i))
      md.digest(d, 0, 16)
      out(i) = d(15) & 0xf
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** 32-char bitstring: bit j is '1' iff more than half of the elements'
    * md5 digests have the top bit of hex nibble j set.
    */
  def simhash32(tokens: ArrayData): UTF8String = {
    val k = tokens.numElements()
    val starts = new Array[Int](k + 1)
    val buf = spaced(tokens, starts)
    val md = md5.get()
    val d = new Array[Byte](16)
    val w = new Array[Int](32)
    var i = 0
    while (i < k) {
      md.update(buf, starts(i), starts(i + 1) - 1 - starts(i))
      md.digest(d, 0, 16)
      var j = 0
      while (j < 32) {
        // nibble j is the high half of byte j/2 for even j, the low half for odd j
        if ((d(j >> 1) & (if ((j & 1) == 0) 0x80 else 0x08)) != 0) w(j) += 1 else w(j) -= 1
        j += 1
      }
      i += 1
    }
    val out = new Array[Byte](32)
    var j = 0
    while (j < 32) { out(j) = if (w(j) > 0) '1' else '0'; j += 1 }
    UTF8String.fromBytes(out)
  }
}

/** Per-window md5 keys of a string array in one native pass: for each
  * window of `n` consecutive elements, the top `bits` bits of md5 over
  * the window joined by single spaces ([[Md5KeysHelper.keys]]); `n` = 1
  * gives one key per element. Null array → null; fewer than `n`
  * elements → empty. Bit-identical to the per-element lambda
  * transform(posRange(size(a) − n + 1), i => conv(substring(md5(
  * array_join(slice(a, i, n), ' ')), 1, bits/4), 16, 10)) (wrapped in
  * array_distinct when `distinct`), which Spark interprets element by
  * element: a slice, a join, a hex digest, a substring and a base
  * conversion per window. The DuckDB oracles still spell that form.
  */
case class Md5Keys(child: Expression, n: Int, bits: Int, distinct: Boolean)
    extends UnaryExpression {
  require(n >= 1 && bits >= 1 && bits <= 63, s"md5_keys: n=$n, bits=$bits")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_keys"
  override def nullSafeEval(v: Any): Any =
    Md5KeysHelper.keys(v.asInstanceOf[ArrayData], n, bits, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Md5KeysHelper.keys($a, $n, $bits, $distinct);")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Per-element low md5 nibble of a string array in one native pass
  * ([[Md5KeysHelper.lowNibbles]]): element i is the last hex digit of
  * md5(a[i]) as 0..15. Null array → null. Bit-identical to
  * transform(a, x => conv(substring(md5(x), 32, 1), 16, 10)), which
  * Spark interprets element by element.
  */
case class Md5LowNibbles(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "md5_low_nibbles"
  override def nullSafeEval(v: Any): Any =
    Md5KeysHelper.lowNibbles(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Md5KeysHelper.lowNibbles($a);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** 32-bit SimHash of a token array: bit j set iff the majority of the
  * tokens' md5 digests have the top bit of hex nibble j set, read from
  * the raw digest bytes ([[Md5KeysHelper.simhash32]]).
  */
case class SimHash32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "simhash32"
  override def nullSafeEval(v: Any): Any =
    Md5KeysHelper.simhash32(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Md5KeysHelper.simhash32($a);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Count of common elements of two SORTED distinct arrays (string or
  * long elements) — a merge walk, no per-call hash set (vs
  * array_intersect). Codegen'd: it runs once per candidate pair, the
  * hottest call site in blocked Jaccard.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  private lazy val isLongElems = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var n = 0L
    if (isLongElems) {
      while (i < x.numElements() && j < y.numElements()) {
        val xv = x.getLong(i); val yv = y.getLong(j)
        if (xv == yv) { n += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
    } else {
      while (i < x.numElements() && j < y.numElements()) {
        val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (c == 0) { n += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
    }
    n
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val c = ctx.freshName("c")
      val cmp =
        if (isLongElems)
          s"int $c = Long.compare($a.getLong($i), $b.getLong($j));"
        else
          s"int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));"
      s"""
        int $i = 0, $j = 0; long $n = 0L;
        while ($i < $a.numElements() && $j < $b.numElements()) {
          $cmp
          if ($c == 0) { $n++; $i++; $j++; }
          else if ($c < 0) { $i++; } else { $j++; }
        }
        ${ev.value} = $n;
      """
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** The full minhash signature straight from the text: polynomial
  * base-31 hash of every `width`-char window (mod p), then the 12
  * Carter-Wegman mins — all in ONE native pass, no digests, no
  * intermediate arrays. Each window hash is the same expression the
  * oracle SQL spells out per position:
  * ((((c0·31+c1)·31+c2)·31+c3)·31+c4) mod p over ASCII code points.
  */
case class ShingleMinHash(child: Expression, width: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_minhash"
  override def nullSafeEval(v: Any): Any = {
    import TextExpressions._
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val nMix = MixA.length
    val mins = Array.fill(nMix)(Long.MaxValue)
    val last = bytes.length - width
    var i = 0
    while (i <= last) {
      var h = 0L
      var j = 0
      while (j < width) { h = h * 31 + bytes(i + j); j += 1 }
      val x = h % MixP
      var k = 0
      while (k < nMix) {
        val m = (MixA(k) * x + MixB(k)) % MixP
        if (m < mins(k)) mins(k) = m
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      import TextExpressions._
      val mixA = ctx.addReferenceObj("mixA", MixA.toArray, "long[]")
      val mixB = ctx.addReferenceObj("mixB", MixB.toArray, "long[]")
      val bs = ctx.freshName("bs"); val mins = ctx.freshName("mins")
      val last = ctx.freshName("last"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val k = ctx.freshName("k")
      val h = ctx.freshName("h"); val x = ctx.freshName("x")
      val m = ctx.freshName("m")
      s"""
        byte[] $bs = $s.getBytes();
        long[] $mins = new long[${MixA.length}];
        java.util.Arrays.fill($mins, Long.MAX_VALUE);
        int $last = $bs.length - $width;
        for (int $i = 0; $i <= $last; $i++) {
          long $h = 0L;
          for (int $j = 0; $j < $width; $j++) { $h = $h * 31 + $bs[$i + $j]; }
          long $x = $h % ${MixP}L;
          for (int $k = 0; $k < ${MixA.length}; $k++) {
            long $m = ($mixA[$k] * $x + $mixB[$k]) % ${MixP}L;
            if ($m < $mins[$k]) $mins[$k] = $m;
          }
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
      """
    })
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Hit counts of a token array against N static word profiles in ONE
  * pass (profiles × words compared per token; word lists are tiny).
  * Replaces N higher-order `filter(...contains...)` pipelines — HOF
  * lambdas are interpreted and break whole-stage codegen, which made
  * the language-ID scorer the slowest per-row text op. Semantics are
  * identical to size(filter(tokens, isInCollection(words))) per
  * profile.
  */
case class ProfileHitCounts(child: Expression, profiles: Seq[Seq[String]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "profile_hit_counts"

  @transient private lazy val words: Array[Array[UTF8String]] =
    profiles.map(_.map(UTF8String.fromString).toArray).toArray

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val counts = new Array[Long](words.length)
    var i = 0
    while (i < arr.numElements()) {
      val t = arr.getUTF8String(i)
      var p = 0
      while (p < words.length) {
        val ws = words(p)
        var j = 0
        var hit = false
        while (!hit && j < ws.length) { hit = ws(j).equals(t); j += 1 }
        if (hit) counts(p) += 1
        p += 1
      }
      i += 1
    }
    new GenericArrayData(counts)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val wordsRef = ctx.addReferenceObj("profileWords", words,
        "org.apache.spark.unsafe.types.UTF8String[][]")
      val counts = ctx.freshName("counts"); val i = ctx.freshName("i")
      val p = ctx.freshName("p"); val j = ctx.freshName("j")
      val t = ctx.freshName("t"); val hit = ctx.freshName("hit")
      val ws = ctx.freshName("ws")
      s"""
        long[] $counts = new long[${words.length}];
        for (int $i = 0; $i < $arr.numElements(); $i++) {
          org.apache.spark.unsafe.types.UTF8String $t = $arr.getUTF8String($i);
          for (int $p = 0; $p < ${words.length}; $p++) {
            org.apache.spark.unsafe.types.UTF8String[] $ws = $wordsRef[$p];
            boolean $hit = false;
            for (int $j = 0; !$hit && $j < $ws.length; $j++) {
              $hit = $ws[$j].equals($t);
            }
            if ($hit) $counts[$p]++;
          }
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($counts);
      """
    })
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Per-character occurrence counts of a string, ordered by ascending
  * code point — one O(n log k) pass (k = alphabet size), the native
  * form of "count per sorted distinct character". UTF-8 binary order
  * of single-char strings IS code-point order, so the output aligns
  * element-for-element with the oracle's
  * list_transform(list_sort(list_distinct(chars)), …) counts. Replaces
  * a HOF pipeline that materialized a 1-char-string array, sorted it,
  * and walked run lengths (measured 6.1 s → 3.4 s → this, see
  * TextOps.charEntropy).
  */
case class CharCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "char_counts"
  override def nullSafeEval(v: Any): Any =
    CharCountsHelper.compute(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.CharCountsHelper.compute($s);")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Polynomial rolling hash (base 31 mod 1e9+7) over the byte sequence.
  * Matches the oracle's per-codepoint fold exactly for ASCII input
  * (the corpus guarantee; asserted in spec).
  */
case class RollingHash31(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash31"
  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) { acc = (acc * 31 + bytes(i)) % 1000000007L; i += 1 }
    acc
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val bs = ctx.freshName("bs"); val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
        byte[] $bs = $s.getBytes();
        long $acc = 0L;
        for (int $i = 0; $i < $bs.length; $i++) {
          $acc = ($acc * 31 + $bs[$i]) % 1000000007L;
        }
        ${ev.value} = $acc;
      """
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Shared eval body of [[BpeApplyMerges]], also called from its
  * generated code (the CharCountsHelper pattern: one static call site
  * keeps the GENERATED method constant-size regardless of the merge
  * count — the entire point of the expression, r13 VERDICT #2).
  *
  * Semantics are EXACTLY the rank-ordered greedy passes of
  * Bpe.applyMerge composed nMerges deep (spec: frame equality):
  * initial symbols = the word's code points + the terminal `</w>`,
  * then for each merge in rank order one left-to-right scan replaces
  * every non-overlapping (lhs, rhs) adjacency by the merged symbol
  * ("aaa" + (a,a) → [aa, a] — the Sennrich scan). A per-word symbol
  * SUPERSET (never shrunk) skips merges whose lhs or rhs was never
  * present — O(1) per skipped merge, so a 32k-merge production
  * artifact costs two hash probes per non-firing merge instead of a
  * full scan, and the dominant Zipf-head words exit almost
  * immediately.
  */
object BpeApplyHelper {
  private val HexDigits = "0123456789ABCDEF"

  def compute(word: UTF8String, merges: Array[Array[String]],
              byteLevel: Boolean): ArrayData = {
    var syms = new java.util.ArrayList[String]()
    if (byteLevel) {
      // GPT-2 byte-level base alphabet: one <0xNN> token per UTF-8
      // byte — mirrors Bpe.initialSymbolsBytes exactly
      val bytes = word.getBytes
      var i = 0
      while (i < bytes.length) {
        val b = bytes(i) & 0xff
        syms.add(new String(Array('<', '0', 'x',
          HexDigits.charAt(b >> 4), HexDigits.charAt(b & 0xf), '>')))
        i += 1
      }
    } else {
      val s = word.toString
      var i = 0
      while (i < s.length) {
        val n = Character.charCount(s.codePointAt(i))
        syms.add(s.substring(i, i + n))
        i += n
      }
    }
    syms.add("</w>")
    val present = new java.util.HashSet[String](syms)
    var m = 0
    while (m < merges.length) {
      val l = merges(m)(0); val r = merges(m)(1); val mg = merges(m)(2)
      if (present.contains(l) && present.contains(r)) {
        val out = new java.util.ArrayList[String](syms.size)
        var j = 0
        var applied = false
        while (j < syms.size) {
          if (j + 1 < syms.size && syms.get(j) == l && syms.get(j + 1) == r) {
            out.add(mg); applied = true; j += 2
          } else { out.add(syms.get(j)); j += 1 }
        }
        if (applied) { syms = out; present.add(mg) }
      }
      m += 1
    }
    val arr = new Array[Any](syms.size)
    var k = 0
    while (k < syms.size) { arr(k) = UTF8String.fromString(syms.get(k)); k += 1 }
    new GenericArrayData(arr)
  }
}

/** word → trained BPE symbol sequence under a rank-ordered merge
  * table carried as a PLAN REFERENCE OBJECT, not as nMerges nested
  * fold expressions (r13 VERDICT #2: the fold composition grew the
  * plan linearly in the merge count — codegen-clean at the fixture's
  * 16 merges, but a production 32k-merge vocabulary blows the Janino
  * 64KB method limit and falls back to interpreted). Here the plan
  * holds ONE node whatever the artifact size; generated code is a
  * single static call (BpeApplyHelper), so whole-stage codegen spans
  * are unaffected by vocabulary scale. Runs over the word DICTIONARY
  * (Zipf-bounded), never the corpus.
  */
case class BpeApplyMerges(child: Expression, merges: Seq[(String, String)],
                          byteLevel: Boolean = false)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_apply_merges"

  @transient private lazy val table: Array[Array[String]] =
    merges.map { case (l, r) => Array(l, r, l + r) }.toArray

  override def nullSafeEval(v: Any): Any =
    BpeApplyHelper.compute(v.asInstanceOf[UTF8String], table, byteLevel)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, w => {
      val ref = ctx.addReferenceObj("bpeMerges", table, "java.lang.String[][]")
      s"${ev.value} = graft.functions.BpeApplyHelper.compute($w, $ref, $byteLevel);"
    })
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
