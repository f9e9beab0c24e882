package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis operators for the training-data pipeline surface:
  * per-document stats, quality scoring, language ID, fingerprinting.
  * Everything is Column-level (higher-order functions over the token
  * array) — no UDFs, no shuffle: a pure map stage that scales linearly
  * with the corpus.
  */
object TextOps {

  private def norm: Column = lower(trim(col("text")))
  private def toks: Column = split(norm, " ")

  /** 60-bit md5 key of every `n`-token window of [[toks]], in one
    * native pass ([[graft.functions.Md5Keys]]). `distinct` keeps first
    * occurrences (the gram SET of decontaminate and novelty); the span
    * family keeps every position.
    */
  private def gramKeys(n: Int, distinct: Boolean): Column =
    graft.functions.TextExpressions.md5Keys(toks, n, 60, distinct)

  /** Tokens/chars/word-length/punct/stopword profile per document. */
  def textStats(documents: DataFrame): DataFrame = {
    val stop = Seq("the", "a", "and", "of", "to")
    documents.select(
        col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars"),
        size(toks).cast(LongType).as("n_tokens"),
        (length(regexp_replace(norm, " ", "")).cast("double") /
          size(toks)).as("avg_word_len"),
        ((length(col("text")) - length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")))
          .cast(LongType)).as("n_alnum_space"),
        // try_divide: empty text → NULL punct ratio (DuckDB's /0),
        // not an ANSI task kill (r7.4 degenerate-text audit)
        try_divide(
          length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")).cast("double"),
          length(col("text"))).as("punct_ratio"),
        (element_at(graft.functions.TextExpressions.profileHitCounts(toks, Seq(stop)), 1)
          .cast("double") / size(toks)).as("stopword_ratio"))
      .orderBy("doc_id")
  }

  /** Composite quality score (length / token-count / stopword / punct
    * signals, each 0-1) + keep verdict — the filter stage of a corpus
    * cleaning pipeline.
    */
  def textQuality(documents: DataFrame): DataFrame = {
    val stop = Seq("the", "a", "and", "of", "to")
    val nChars = length(col("text"))
    val nToks = size(toks)
    val stopRatio = element_at(graft.functions.TextExpressions
      .profileHitCounts(toks, Seq(stop)), 1).cast("double") / nToks
    // try_divide: empty text → NULL ratio → s4 falls to otherwise(0),
    // same verdict DuckDB's /0→NULL gives (r7.4 degenerate-text audit)
    val punctRatio = try_divide(
      length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")).cast("double"),
      nChars)
    val s1 = when(nChars.between(100, 2000), 1).otherwise(0)
    val s2 = when(nToks >= 20, 1).otherwise(0)
    val s3 = when(stopRatio.between(0.02, 0.6), 1).otherwise(0)
    val s4 = when(punctRatio < 0.1, 1).otherwise(0)
    documents.select(
        col("doc_id"),
        s1.cast(LongType).as("s_length"), s2.cast(LongType).as("s_tokens"),
        s3.cast(LongType).as("s_stopwords"), s4.cast(LongType).as("s_punct"),
        ((s1 + s2 + s3 + s4).cast("double") / 4.0).as("quality_score"),
        ((s1 + s2 + s3 + s4) >= 3).as("keep"))
      .orderBy("doc_id")
  }

  /** Character-distribution entropy per document — the standard
    * gibberish/degeneracy filter a corpus clean runs next to the
    * surface ratios: near-zero entropy flags repeated-character spam,
    * implausibly high entropy flags random/encoded noise. Shannon
    * entropy over the normalized text's character histogram, computed
    * as log2(n) − (Σ c·log2(c))/n so every log argument is a small
    * INTEGER count.
    *
    * Engine parity: the entropy itself involves log2 (correct only to
    * a ulp, engine-dependent), so the published column is
    * `entropy_microbits` = floor(entropy·1e6 + 0.5) — the accumulated
    * cross-engine drift is ~1e-14 bits, a 1e-8 fraction of the
    * quantization step, so the BIGINT is deterministic where a raw
    * double would hash-flake. Companion columns are exact integers /
    * one exact rational division. Per-row char counting is the native
    * [[graft.functions.CharCounts]] expression — one O(len·log
    * alphabet) pass, output ordered by code point, which equals the
    * oracle's sorted-distinct-char order (the oracle charizes with
    * position-indexed substr; split-on-empty edge rules differ across
    * engines). A pure map stage.
    */
  def charEntropy(documents: DataFrame): DataFrame = {
    // counts come from the native CharCounts expression — one
    // O(n log alphabet) pass per row, output ordered by code point,
    // which IS the oracle's sorted-distinct-char order (UTF-8 binary
    // order of single-char strings = code-point order), so the SQL
    // text is untouched. The HOF ladder this replaces (char array →
    // sort → run starts → run lengths) measured 3.4 s at sf0.1 and
    // the filter-per-distinct-char form before it 6.1 s — per-row
    // native passes are the repo's standard answer for hot text loops
    // (SimHash32/ShingleMinHash precedent).
    documents.select(col("doc_id"), norm.as("nt"))
      .select(col("doc_id"), length(col("nt")).cast(LongType).as("n_chars"),
        graft.functions.TextExpressions.charCounts(col("nt")).as("counts"))
      .select(col("doc_id"), col("n_chars"),
        size(col("counts")).cast(LongType).as("n_distinct_chars"),
        array_max(col("counts")).as("top_char_count"),
        // ordered left-to-right fold — same association as the
        // oracle's list_sum(list_transform(...)) (proven pattern)
        aggregate(col("counts"), lit(0.0d),
          (acc, c) => acc + c.cast("double") * log2(c.cast("double")))
          .as("sum_clogc"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct_chars"),
        col("top_char_count"),
        // try_divide: an EMPTY text (n_chars 0) yields NULL ratio and
        // NULL entropy instead of an ANSI DIVIDE_BY_ZERO task kill
        // (r7.4 short-doc audit; log2(0) is already NULL-safe)
        try_divide(col("top_char_count").cast("double"), col("n_chars"))
          .as("top_char_ratio"),
        floor((log2(col("n_chars").cast("double")) -
          try_divide(col("sum_clogc"), col("n_chars"))) * 1e6 + 0.5)
          .cast(LongType).as("entropy_microbits"))
      .orderBy("doc_id")
  }

  /** The published Gopher document-quality rules (Rae et al. 2021,
    * "Scaling Language Models", table A1 — the de-facto standard
    * corpus filter set) over the normalized text: word-count bounds,
    * mean-word-length bounds, symbol-to-word ratio (# and ellipsis),
    * alphabetic-word fraction, minimum stopword hits. Every signal is
    * an integer count or an exact rational ratio — no transcendentals,
    * so cross-engine parity is exact; the regex used inside the
    * alphabetic-word filter is restricted to the Java↔RE2 common
    * subset (the pii_scrub rule). Pure map stage.
    */
  def gopherQuality(documents: DataFrame): DataFrame = {
    val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val nToks = size(toks)
    // occurrence counts via length deltas — replace() parity is exact
    val hashCount = length(col("text")) -
      length(regexp_replace(col("text"), "#", ""))
    val ellipsisCount = (length(col("text")) -
      length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3
    documents.select(col("doc_id"), col("text"), toks.as("tk"))
      .select(col("doc_id"),
        size(col("tk")).cast(LongType).as("n_words"),
        (length(regexp_replace(lower(trim(col("text"))), " ", ""))
          .cast("double") / size(col("tk"))).as("mean_word_len"),
        ((hashCount + ellipsisCount).cast("double") / size(col("tk")))
          .as("symbol_word_ratio"),
        (size(filter(col("tk"), t => t.rlike("[a-z]"))).cast("double") /
          size(col("tk"))).as("alpha_word_ratio"),
        element_at(graft.functions.TextExpressions
          .profileHitCounts(col("tk"), Seq(stop)), 1).as("n_stopword_hits"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("symbol_word_ratio"), col("alpha_word_ratio"),
        col("n_stopword_hits"),
        col("n_words").between(50, 100000).as("r_word_count"),
        col("mean_word_len").between(3.0, 10.0).as("r_word_len"),
        (col("symbol_word_ratio") <= 0.1).as("r_symbols"),
        (col("alpha_word_ratio") >= 0.8).as("r_alpha"),
        (col("n_stopword_hits") >= 2).as("r_stopwords"))
      .withColumn("keep",
        col("r_word_count") && col("r_word_len") && col("r_symbols") &&
          col("r_alpha") && col("r_stopwords"))
      .orderBy("doc_id")
  }

  /** Stopword-profile language scorer: per-language function-word hit
    * counts, argmax with fixed alphabetical tie-break. (An n-gram model
    * would be the production path; the profile approach is the standard
    * cheap heuristic and is exactly reproducible.)
    */
  def langId(documents: DataFrame): DataFrame = {
    val profiles = Seq(
      "de" -> Seq("der", "die", "und", "das", "ein"),
      "en" -> Seq("the", "a", "of", "and", "to"),
      "es" -> Seq("el", "la", "de", "que", "y"),
      "fr" -> Seq("le", "la", "de", "et", "un"))
    // all four profile scores in ONE codegen'd pass over the token
    // array (the HOF filter-per-language form ran interpreted lambdas)
    val scored = documents.select(col("doc_id"), col("lang"),
        graft.functions.TextExpressions
          .profileHitCounts(toks, profiles.map(_._2)).as("sc"))
      .select(Seq(col("doc_id"), col("lang")) ++
        profiles.zipWithIndex.map { case ((lang, _), i) =>
          element_at(col("sc"), i + 1).as(s"score_$lang")
        }: _*)
    val best = greatest(col("score_de"), col("score_en"), col("score_es"), col("score_fr"))
    scored.select(
        col("doc_id"),
        col("score_de"), col("score_en"), col("score_es"), col("score_fr"),
        when(best === 0, "unknown")
          .when(col("score_de") === best, "de")
          .when(col("score_en") === best, "en")
          .when(col("score_es") === best, "es")
          .otherwise("fr").as("predicted_lang"),
        col("lang").as("labeled_lang"))
      .orderBy("doc_id")
  }

  /** Canonical-form md5 + sha256 fingerprints (content addressing for
    * exact dedup and incremental-load change detection).
    */
  def fingerprint(documents: DataFrame): DataFrame =
    documents.select(
        col("doc_id"),
        md5(norm.cast("binary")).as("fp_md5"),
        sha2(norm.cast("binary"), 256).as("fp_sha256"),
        length(col("text")).cast(LongType).as("n_chars"))
      .orderBy("doc_id")

  /** BPE-ish regex used for subword-style token counting: letter runs,
    * single digits, or single punctuation marks — the shape of a GPT-2
    * pre-tokenizer, engine-portable.
    */
  val BpeIshPattern = "[a-z]+|[0-9]|[^a-z0-9 ]"

  /** Token counting two ways — whitespace words vs BPE-ish pieces —
    * plus the chars-per-token compression ratio a data pipeline uses
    * for quality/cost estimates.
    */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(
        col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars"),
        size(split(trim(col("text")), "\\s+")).cast(LongType).as("ws_tokens"),
        size(regexp_extract_all(norm, lit(BpeIshPattern), lit(0))).cast(LongType).as("bpe_tokens"))
      .withColumn("chars_per_bpe_token",
        // a symbol-only/empty text has zero BPE-ish tokens: NULL ratio
        // (DuckDB's /0), not an ANSI task kill (r7.4 short-doc audit)
        try_divide(col("n_chars").cast("double"), col("bpe_tokens")))
      .orderBy("doc_id")

  /** Fixed-size token chunking with overlap (size 40, stride 30) — the
    * context-window packing stage of a training pipeline. Narrow
    * explode; chunk text emitted as md5 (content address) to keep the
    * result compact.
    */
  def chunk(documents: DataFrame, size: Int = 40, stride: Int = 30): DataFrame = {
    val toks = split(norm, " ")
    val n = org.apache.spark.sql.functions.size(toks)
    val nStarts = (greatest(n - size, lit(0)) + (stride - 1)) / stride + 1
    documents.select(col("doc_id"), toks.as("tk"), n.as("n_tokens"),
        nStarts.cast(LongType).as("n_chunks"))
      .select(col("doc_id"), col("tk"), col("n_chunks"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("n_chunks"), col("chunk_idx"),
        slice(col("tk"), (col("chunk_idx") * stride + 1).cast("int"), lit(size)).as("ck"))
      .select(col("doc_id"), col("n_chunks"), col("chunk_idx"),
        org.apache.spark.sql.functions.size(col("ck")).cast(LongType).as("n_chunk_tokens"),
        md5(concat_ws(" ", col("ck")).cast("binary")).as("chunk_md5"),
        element_at(col("ck"), 1).as("first_token"))
      .orderBy("doc_id", "chunk_idx")
  }

  private def splitBucket: Column =
    conv(substring(md5(concat(lit("split:"),
      col("doc_id").cast("string")).cast("binary")), 1, 4), 16, 10)
      .cast(LongType) % 10

  /** Deterministic hash-based train/val/test assignment (80/10/10 by
    * md5 bucket of the doc id) — reproducible across engines and runs,
    * no RNG state; the split is a pure function of the key.
    */
  def split_assign(documents: DataFrame): DataFrame = {
    documents.select(col("doc_id"), col("lang"), splitBucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val").otherwise("test"))
      .orderBy("doc_id")
  }

  /** Cross-split n-gram decontamination — the benchmark-leakage check a
    * training pipeline runs before shipping a corpus: any train-split
    * document sharing an 8-token gram with a held-out (val/test)
    * document is flagged, with the shared-gram count as evidence.
    * Grams are distinct per doc and hashed to 60-bit ints, the
    * explode→join is keyed on that uniform hash (same shuffle shape as
    * the LSH pair generation — no low-cardinality key), and the held-out
    * side is ~20% of the corpus by construction.
    *
    * Hot-gram guard: a corpus-wide boilerplate gram (license header,
    * template sentence) shared by M train × K eval docs makes the pair
    * join emit M×K rows for that one key — quadratic in its document
    * frequency. Grams with df > [[GramDfCap]] are dropped before the
    * join (grams are distinct per doc, so the count IS document
    * frequency); such grams carry no contamination signal anyway —
    * the same insurance [[Dedup.BandBucketCap]] gives the LSH bucket
    * join. The cap predicate is mirrored verbatim in the DuckDB oracle.
    */
  val GramDfCap: Int = 1000

  /** Per-doc n-gram NOVELTY: the fraction of a doc's distinct 8-grams
    * first introduced by it, attributing each gram to its minimum
    * doc_id — the corpus-level "how much of this doc is new text"
    * signal (the cross-doc complement of [[repetition]]'s within-doc
    * ratio; low novelty = boilerplate/syndicated content, a standard
    * corpus-curation filter axis). Shuffle shape: one uniform-60-bit
    * gram aggregate with map-side partials for the first-introducer
    * map, then the gram join back SALTED on (g8, hash(doc_id)) — a
    * boilerplate gram shared by M docs would land its M rows in one
    * reducer on a raw key ([[graft.operators.Partitioning.saltedEquiJoin]]).
    * The exploded gram stream feeds both the aggregate and the join
    * probe, so it is checkpointed once (the decontaminate measurement:
    * for md5-per-gram streams the checkpoint beats the double scan).
    */
  /** The (doc_id, g8) distinct-gram stream behind the novelty family
    * — also the compact retro input the streaming twin sinks (8-byte
    * hashes, no text).
    */
  def gramPairs(documents: DataFrame, n: Int = 8): DataFrame =
    documents.select(col("doc_id"), explode(gramKeys(n, distinct = true)).as("g8"))

  /** Score every doc present in `pairs` against a first-introducer
    * index (g8, first_doc): novel = the index attributes the gram to
    * this doc. The probe is salted on (g8, hash(doc_id)) — a
    * boilerplate gram's fan-out never lands one reducer.
    */
  def noveltyAgainstIndex(pairs: DataFrame, index: DataFrame): DataFrame =
    Partitioning.saltedEquiJoin(pairs, index, "g8", col("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      // n_grams ≥ 1 by construction (a doc with no grams has no rows)
      .withColumn("novelty_ratio",
        col("n_novel").cast("double") / col("n_grams"))
      .orderBy("doc_id")

  def ngramNovelty(documents: DataFrame, n: Int = 8): DataFrame = {
    val pairs = gramPairs(documents, n).localCheckpoint(true)
    noveltyAgainstIndex(pairs,
      pairs.groupBy("g8").agg(min(col("doc_id")).as("first_doc")))
  }

  /** The standing first-introducer index behind [[ngramNovelty]] —
    * (g8, first_doc) rows. ASSOCIATIVE state: indexes of two corpus
    * increments merge by per-gram min, which is what lets a steady-
    * state ingestion carry it across batches ([[mergeGramFirstIndex]];
    * the budget-histogram / band-index discipline).
    */
  def gramFirstIndex(documents: DataFrame, n: Int = 8): DataFrame =
    gramPairs(documents, n)
      .groupBy("g8").agg(min(col("doc_id")).as("first_doc"))

  def mergeGramFirstIndex(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("g8").agg(min(col("first_doc")).as("first_doc"))

  /** [[mergeGramFirstIndex]] with a STATIONARY state side — the merge
    * restated as a full-outer join on g8, so a g8-bucketed standing
    * index scans pre-clustered and the plan carries zero Exchange
    * above the state scan; only the O(batch) side shuffles (the
    * noveltyStream state path, VERDICT r7 #5). `least` skips NULLs,
    * so a gram present on one side keeps that side's min — ScaleSpec
    * proves frame equality with the union-form merge.
    */
  def mergeGramFirstIndexStationary(state: DataFrame, batchIdx: DataFrame): DataFrame =
    state.join(batchIdx.withColumnRenamed("first_doc", "batch_first"),
        Seq("g8"), "full_outer")
      .select(col("g8"),
        least(col("first_doc"), col("batch_first")).as("first_doc"))

  /** Incremental-admission novelty — the [[graft.operators.Dedup.incremental]]
    * shape for first-introducer attribution: a standing corpus (as its
    * [[gramFirstIndex]]) plus an ARRIVING batch, scoring ONLY the
    * batch docs. Attribution runs against the merged index (standing
    * min ∧ batch min), so the output is EXACTLY the one-shot
    * [[ngramNovelty]] over (corpus ∪ batch) restricted to batch docs —
    * the oracle states that restriction literally and the spec asserts
    * frame equality. Standing docs' stored novelty rows are not
    * recomputed; under monotonically-increasing doc_id ingestion (the
    * production norm) they can never go stale, because a later batch
    * can never steal a gram's first-introducer slot. Steady-state cost
    * per tick = the batch's gram scan + a batch-gram-keyed probe of
    * the index (bucketed on g8 at scale), never a corpus rescan.
    */
  def ngramNoveltyIncremental(corpus: DataFrame, batch: DataFrame,
      n: Int = 8): DataFrame = {
    val pairs = gramPairs(batch, n).localCheckpoint(true)
    val batchMin = pairs.groupBy("g8").agg(min(col("doc_id")).as("batch_first"))
    // merged attribution: only grams the BATCH carries matter, so the
    // standing index joins on the batch's gram set (left) — index
    // grams absent from the batch never move
    val merged = batchMin
      .join(gramFirstIndex(corpus, n), Seq("g8"), "left")
      .select(col("g8"),
        when(col("first_doc").isNull, col("batch_first"))
          .otherwise(least(col("first_doc"), col("batch_first")))
          .as("first_doc"))
    noveltyAgainstIndex(pairs, merged)
  }

  def decontaminate(documents: DataFrame, n: Int = 8,
      maxGramDf: Int = GramDfCap): DataFrame =
    decontaminateCore(documents.withColumn("__fresh", lit(true)), n, maxGramDf)

  /** Incremental-admission decontamination — the [[Dedup.incremental]]
    * shape for benchmark leakage: a standing corpus plus an ARRIVING
    * batch of documents, flagging only pairs whose train side is in
    * the batch. The gram-df cap and the eval set are computed over the
    * UNION (standing + arriving), so the output is EXACTLY the
    * one-shot [[decontaminate]] restricted to batch train docs — the
    * oracle states that restriction literally, and the spec asserts
    * frame equality. Old (corpus-train × eval) pairs are never
    * recomputed; at 100 TB the steady-state cost per ingestion tick is
    * the batch's gram scan plus the df/eval joins.
    */
  def decontaminateIncremental(corpus: DataFrame, batch: DataFrame,
      n: Int = 8, maxGramDf: Int = GramDfCap): DataFrame =
    decontaminateCore(
      corpus.withColumn("__fresh", lit(false))
        .unionByName(batch.withColumn("__fresh", lit(true))),
      n, maxGramDf)

  /** Cross-SOURCE contamination rollup — the report a data owner
    * actually reads: which ingestion sources leak into which held-out
    * sources, how many doc pairs, how concentrated. Rides
    * [[decontaminate]]'s pair output (leakage-sized, orders of
    * magnitude below corpus scale), then resolves each side's source
    * by a uniform doc_id join — at 100 TB the pair side is the small
    * side and AQE broadcasts it against the corpus scan; nothing here
    * adds a corpus-scale shuffle beyond decontaminate's own.
    */
  def contaminationMatrix(documents: DataFrame, n: Int = 8,
      maxGramDf: Int = GramDfCap): DataFrame = {
    val pairs = decontaminate(documents, n, maxGramDf)
    val src = documents.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("train_doc"),
        col("source").as("train_source")), "train_doc")
      .join(src.select(col("doc_id").as("eval_doc"),
        col("source").as("eval_source")), "eval_doc")
      .groupBy("train_source", "eval_source")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("train_doc")).as("n_train_docs"),
        countDistinct(col("eval_doc")).as("n_eval_docs"),
        sum(col("n_shared_grams")).as("total_shared_grams"),
        max(col("n_shared_grams")).as("max_shared_grams"))
      .orderBy("train_source", "eval_source")
  }

  /** Shared gram pipeline: `documents` must carry a `__fresh` boolean;
    * the pair join's TRAIN side is restricted to fresh docs, while the
    * df cap and the held-out side see every row.
    */
  private def decontaminateCore(documents: DataFrame, n: Int,
      maxGramDf: Int): DataFrame = {
    // one md5 digest per gram position (60-bit key from the joined
    // window), all positions of a row in one native pass. As a HOF
    // lambda the same digest ran interpreted per position (slice,
    // join, hex digest, substring, base conversion each); per-token
    // hashes combined by an element_at polynomial fold or a zip_with
    // chain over shifted slices were slower still at sf0.1 (~20× and
    // ~2×).
    val grams = gramKeys(n, distinct = true)
    val base = documents
      .select(col("doc_id"), splitBucket.as("b"), grams.as("gs"),
        col("__fresh"))
    // The exploded gram stream feeds THREE consumers (the df aggregate
    // and both sides of the train×eval join), and the split filters
    // push below the semi-join so Catalyst can't reuse one exchange —
    // without materialization the md5-per-gram scan runs 3×
    // (measured ~2× wall-clock on the whole query at sf0.1). One eager
    // localCheckpoint pays the pipeline once; the checkpoint is
    // (doc_id, bucket, 8-byte hash) rows — a fraction of corpus bytes,
    // distributed across executor-local storage at scale.
    val exploded = base.select(col("doc_id"), col("b"), col("__fresh"),
        explode(col("gs")).as("g8"))
      .localCheckpoint(true)
    // df-capped gram set: one uniform-key aggregation (map-side partials
    // absorb the hot keys), then a semi-join filters both splits before
    // the pair join — every surviving key's fan-out is <= cap².
    val rare = exploded.groupBy("g8")
      .agg(count(lit(1)).as("gram_df"))
      .filter(col("gram_df") <= maxGramDf)
      .select("g8")
    val capped = exploded.join(rare, Seq("g8"), "left_semi")
    val train = capped.filter(col("b") < 8 && col("__fresh"))
      .select(col("doc_id").as("train_doc"), col("g8"))
    val heldOut = capped.filter(col("b") >= 8)
      .select(col("doc_id").as("eval_doc"), col("g8"))
    train.join(heldOut, "g8")
      .groupBy("train_doc", "eval_doc")
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy("train_doc", "eval_doc")
  }

  /** Bloom-prefiltered decontamination — result-IDENTICAL to
    * [[decontaminate]] (same grams, same df cap, same pair counts) but
    * the train side is filtered through a Bloom filter of the held-out
    * gram set BEFORE the pair join, so at 100 TB only the tiny
    * might-match fraction of train grams crosses the shuffle (train
    * corpus ≫ eval set is the production shape; the exact join then
    * removes Bloom false positives, which is why the result — and the
    * oracle — are exactly [[decontaminate]]'s).
    *
    * The filter itself is expression-level: a bitset of `2^log2Bits`
    * bits as a LITERAL array<long> (2^20 bits = 16 K longs = 128 KB in
    * the plan — fine to ~2^24; past that, materialize it as a
    * broadcast table instead). k=3 probe positions come from disjoint
    * 20-bit slices of the already-md5-derived 60-bit gram key —
    * independent by construction, no extra hashing, no UDF, fully
    * codegen'd. FP rate at n eval grams: (1−e^(−3n/m))^3 ≈ 1.4% at
    * n=m/8; size log2Bits to the eval-gram count, not the corpus.
    */
  def decontaminateBloom(documents: DataFrame, n: Int = 8,
      maxGramDf: Int = GramDfCap, log2Bits: Int = 20): DataFrame = {
    // same checkpointed single tokenize+md5 pass as decontaminate: the
    // exploded stream feeds the df aggregate, the bloom build, and
    // both join sides
    val exploded = documents
      .select(col("doc_id"), splitBucket.as("b"), gramKeys(n, distinct = true).as("gs"))
      .select(col("doc_id"), col("b"), explode(col("gs")).as("g8"))
      .localCheckpoint(true)
    val rare = exploded.groupBy("g8")
      .agg(count(lit(1)).as("gram_df"))
      .filter(col("gram_df") <= maxGramDf)
      .select("g8")
    val heldOut = exploded.join(rare, Seq("g8"), "left_semi")
      .filter(col("b") >= 8)
      .select(col("doc_id").as("eval_doc"), col("g8"))
    // ---- build: OR the three probe bits of every held-out gram into
    // 64-bit words; the aggregate output is bounded by m/64 rows
    // (16 K at the default), independent of corpus size. Built over the
    // UNCAPPED eval grams straight off the checkpoint: a superset of
    // the capped set can't introduce false negatives, the confirm join
    // stays exact, and routing it through the cap semi-join would
    // re-execute that exchange a third time (measured +1.4 s at sf0.1)
    val mask = (1L << log2Bits) - 1
    def probes(g: Column): Seq[Column] = Seq(
      g.bitwiseAND(lit(mask)),
      shiftright(g, 20).bitwiseAND(lit(mask)),
      shiftright(g, 40).bitwiseAND(lit(mask)))
    val words = exploded.filter(col("b") >= 8)
      .select(explode(array(probes(col("g8")): _*)).as("pos"))
      .select(shiftright(col("pos"), 6).cast("int").as("w"),
        // SQL shiftleft takes a column shift; the Scala API only a constant
        expr("shiftleft(1L, CAST(pos % 64 AS INT))").as("bit"))
      .groupBy("w").agg(bit_or(col("bit")).as("bits"))
      .collect()
    val wordArr = new Array[Long](1 << (log2Bits - 6))
    words.foreach(r => wordArr(r.getInt(0)) = r.getLong(1))
    val wordsLit = typedLit(wordArr.toSeq)
    // ---- probe: the bloom test runs on the RAW train gram stream,
    // BEFORE the cap semi-join — non-matching train grams (the
    // overwhelming majority when train ≫ eval) are dropped map-side
    // off the checkpoint and never cross ANY exchange; the cap
    // semi-join and the pair join then both see only might-match rows.
    // Stage word + bit-offset columns, then one variable-shift test
    // per probe (SQL shiftright takes a column shift; the Scala
    // functions API only takes a constant, hence the expr)
    val pre = exploded.filter(col("b") < 8)
      .select(col("doc_id").as("train_doc"), col("g8"))
      .withColumn("__ps", array(probes(col("g8")): _*))
      .withColumn("__w0", element_at(wordsLit,
        shiftright(element_at(col("__ps"), 1), 6).cast("int") + 1))
      .withColumn("__w1", element_at(wordsLit,
        shiftright(element_at(col("__ps"), 2), 6).cast("int") + 1))
      .withColumn("__w2", element_at(wordsLit,
        shiftright(element_at(col("__ps"), 3), 6).cast("int") + 1))
      .filter(expr(
        "(shiftright(__w0, CAST(__ps[0] % 64 AS INT)) & 1) = 1 AND " +
        "(shiftright(__w1, CAST(__ps[1] % 64 AS INT)) & 1) = 1 AND " +
        "(shiftright(__w2, CAST(__ps[2] % 64 AS INT)) & 1) = 1"))
      .select("train_doc", "g8")
    // no cap semi-join on the train side: a df-capped-out gram is
    // absent from `heldOut`, so the inner join excludes it anyway —
    // result-identical to capping both sides, one exchange cheaper
    pre.join(heldOut, "g8")
      .groupBy("train_doc", "eval_doc")
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy("train_doc", "eval_doc")
  }

  /** Document-length histogram in power-of-two character buckets — the
    * length-distribution diagnostic that sizes chunking and batch
    * shapes. Pure per-row bucket + one tiny groupBy.
    */
  def lengthHistogram(documents: DataFrame): DataFrame = {
    val b = floor(log2(greatest(col("n_chars"), lit(1)))).cast(LongType)
    documents.select(b.as("log2_bucket"), col("n_chars"))
      .groupBy("log2_bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .withColumn("bucket_floor", pow(lit(2.0), col("log2_bucket")).cast(LongType))
      .select("log2_bucket", "bucket_floor", "n_docs", "min_chars", "max_chars")
      .orderBy("log2_bucket")
  }

  /** Corpus vocabulary table: corpus frequency + document frequency
    * per token, top-N by usage — the df side of tf-idf and the
    * stopword/tokenizer-coverage diagnostic a corpus run reports.
    * Explode keys the shuffle on the token itself (Zipf-skewed: the
    * head tokens are the natural salting candidates at extreme scale;
    * partial map-side aggregation absorbs most of the skew first).
    */
  def vocabulary(documents: DataFrame, topN: Int = 100): DataFrame =
    documents.select(col("doc_id"), explode(toks).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("corpus_freq"),
        countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("corpus_freq").desc, col("token"))
      .limit(topN)

  /** Sketch-based heavy-hitter vocabulary — the 100 TB form of
    * [[vocabulary]]: one `approx_top_k` (Apache DataSketches frequent-
    * items under the hood) pass instead of a full token groupBy, so
    * the only thing crossing the shuffle is one bounded sketch per
    * partition (mergeable, size independent of corpus length) — the
    * exact form shuffles every distinct token. Not oracle-checkable
    * (sketch internals are engine-specific); the spec pins it against
    * the exact top-N on the fixture, where the sketch is error-free
    * because maxItemsTracked far exceeds the fixture vocabulary.
    */
  def vocabularyApprox(documents: DataFrame, topN: Int = 100): DataFrame =
    documents.select(explode(toks).as("token"))
      .agg(expr(s"approx_top_k(token, $topN)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("token"), col("e.count").as("approx_freq"))
      .orderBy(col("approx_freq").desc, col("token"))

  /** HyperLogLog register table over the token stream (Flajolet et
    * al. 2007) — the ENGINE-REPRODUCIBLE cardinality sketch beside
    * [[vocabularyApprox]]'s opaque DataSketches one: hashes are
    * md5-derived (the count-min/LSH engine-free-randomness
    * convention, so the oracle embeds the identical hash family),
    * bucket = top 8 of the 60-bit hash, and the leading-zero rank is
    * computed EXACTLY as 53 − length(bin(low52)) — a pure
    * integer/string path with no floating-point anywhere, where a
    * log2-based bit-length could misround a boundary differently per
    * engine. Registers are MAX-mergeable (exactly associative — the
    * covariance-term state class: across partitions, batches, days,
    * streaming triggers); only NON-EMPTY buckets are materialized
    * (≤256 rows regardless of corpus size — absent rows merge as the
    * implicit 0 and the summary reconstructs them in closed form).
    * Shuffle shape: one map-side-combined ≤256-rows-per-partition
    * aggregate — nothing corpus-sized ever crosses the wire.
    */
  def vocabHllRegisters(documents: DataFrame): DataFrame = {
    val h = conv(substring(md5(col("token").cast("binary")), 1, 15), 16, 10)
      .cast(LongType)
    documents.select(explode(toks).as("token"))
      .select(shiftright(h, 52).as("bucket"),
        h.bitwiseAND(lit(4503599627370495L)).as("rem"))
      .select(col("bucket"),
        when(col("rem") === 0, lit(53))
          .otherwise(lit(53) - length(bin(col("rem")))).cast(LongType).as("rank"))
      .groupBy("bucket").agg(max(col("rank")).as("max_rank"))
      .orderBy("bucket")
  }

  /** Merge two HLL register tables — cell-wise MAX, exactly
    * associative, the incremental/streaming continuation primitive
    * (absent buckets are implicit 0s, so a plain union+max is the
    * complete merge).
    */
  def mergeHllRegisters(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("bucket").agg(max(col("max_rank")).as("max_rank"))

  /** HLL estimate from a register table: denominator Σ 2^(53−M_j) is
    * kept as an EXACT integer (2^(53−M) = 9007199254740992 >> M, Long
    * sum — order-independent where the textbook float sum of 2^−M is
    * not; empty buckets contribute the closed-form (m−observed)·2^53),
    * and the published estimate is micro-quantized because the
    * small-range linear-counting branch takes a log of a non-integer
    * ratio (the prioritySample ULP bargain). alpha = 0.7213/(1+1.079/m)
    * for m=256, raw = α·m²·2^53/denom, linear counting when zero
    * registers exist and raw ≤ 2.5m — the standard HLL estimator with
    * every engine-crossing value anchored to exact integers.
    */
  /** Closed-form denominator reconstruction from non-empty buckets
    * only: Σ_observed 2^(53−M) plus (m − observed)·2^53 for the
    * implicit empties — exact Long arithmetic throughout.
    */
  private[operators] def hllDenomScaled: Column =
    coalesce(col("d_obs"), lit(0L)) +
      (lit(256L) - col("n_nonzero")) * lit(9007199254740992L)

  /** The HLL estimator as a Column over (n_nonzero, denom_scaled) —
    * shared by the corpus-wide summary and the grouped (per-day)
    * variants so every caller publishes the IDENTICAL micro-quantized
    * arithmetic the oracles mirror.
    */
  private[operators] def hllEstMicro(nNonzero: Column, denomScaled: Column): Column = {
    val raw = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) *
      lit(65536.0) * lit(9007199254740992.0) / denomScaled.cast("double")
    val v = lit(256L) - nNonzero
    val est = when(v > 0 && raw <= lit(640.0),
      lit(256.0) * log2(lit(256.0) / v.cast("double")) * lit(0.6931471805599453))
      .otherwise(raw)
    floor(est * lit(1e6) + lit(0.5)).cast(LongType)
  }

  private[operators] val hllDObs: Column =
    sum(expr("shiftright(CAST(9007199254740992 AS BIGINT), CAST(max_rank AS INT))"))
      .as("d_obs")

  def vocabHllFromRegisters(registers: DataFrame): DataFrame =
    registers
      .agg(count(lit(1)).as("n_nonzero"), hllDObs)
      .select(lit(256L).as("m"), col("n_nonzero"), hllDenomScaled.as("denom_scaled"))
      .select(col("m"), col("n_nonzero"), col("denom_scaled"),
        hllEstMicro(col("n_nonzero"), col("denom_scaled")).as("est_micro"))

  /** One-shot HLL vocabulary estimate, published BESIDE the exact
    * distinct count so the sketch's error profile is measurable on
    * every run (the events_heavy_hitters convention). The exact count
    * is the expensive side at 100 TB — the point of the sketch is
    * that [[vocabHllFromRegisters]] over carried registers replaces
    * it in steady state (the incremental entry drops n_exact for
    * exactly that reason).
    */
  def vocabHll(documents: DataFrame): DataFrame = {
    val exact = documents.select(explode(toks).as("token"))
      .agg(countDistinct(col("token")).as("n_exact"))
    vocabHllFromRegisters(vocabHllRegisters(documents))
      .crossJoin(broadcast(exact)) // 1-row scalar
  }

  /** Per-document vocabulary-rarity signal: the mean share of the
    * corpus containing each of the doc's tokens (df/N averaged over
    * tokens). High = boilerplate-heavy vocabulary, low = rare/unusual
    * vocabulary — a standard corpus quality-filter feature next to
    * [[textQuality]]'s surface ratios. Rational arithmetic only
    * (integer df sums divided once at the end), so the double is
    * engine-exact. Shuffle shape = the tf-idf family: token-keyed df
    * aggregate with map-side partials, the join back SALTED on
    * (token, hash(doc_id)) so a Zipf head token's fan-out spreads
    * across reducers (Partitioning.saltedEquiJoin — result-identical),
    * doc-keyed rollup; the 1-row corpus count broadcasts.
    */
  def commonness(documents: DataFrame): DataFrame = {
    // same double-scan shape as Corpus.tfidfTopTerms: `terms` feeds the
    // df aggregate AND the salted join's probe side with different
    // keys, so the tokenize+explode runs twice. Deliberately NOT
    // checkpointed — measured at sf0.1 (r7): flat to slower, same as
    // the dedup_jaccard precedent; see the tfidfTopTerms note.
    val terms = documents.select(col("doc_id"), explode(toks).as("term"))
    val df = terms.groupBy("term").agg(countDistinct(col("doc_id")).as("term_df"))
    val nDocs = documents.select(countDistinct(col("doc_id")).as("n_docs"))
    Partitioning.saltedEquiJoin(terms, df, "term", col("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        min(col("term_df")).as("df_min"),
        max(col("term_df")).as("df_max"),
        sum(col("term_df")).as("df_sum"))
      .crossJoin(broadcast(nDocs)) // 1-row scalar
      .withColumn("mean_df_share",
        col("df_sum").cast("double") / col("n_tokens") / col("n_docs"))
      .select("doc_id", "n_tokens", "df_min", "df_max", "df_sum", "mean_df_share")
      .orderBy("doc_id")
  }

  /** A token ANCHORS (starts) a new passage iff the last hex nibble of
    * its md5 is '0' — p = 1/16, so the expected passage length is 16
    * tokens, the same grain as the fixed windows this family used
    * before r10. Each token comes paired with its flag; the digests
    * come from one native pass over the array
    * ([[graft.functions.Md5LowNibbles]]), not one per lambda call.
    * Content decides the boundary, not position: the
    * gear/Rabin trick behind CDC dedup (LBFS/Venti) applied at token
    * grain, and the reason a block shared by two docs chunks
    * IDENTICALLY in both no matter what offset it sits at.
    */
  private def anchors(tokens: Column): Column =
    zip_with(tokens, graft.functions.TextExpressions.md5LowNibbles(tokens),
      (t, nibble) => struct(t.as("t"), (nibble === lit(0)).as("anchor")))

  /** Standard CDC maximum-chunk bound (r10 ADVICE): a boundary is
    * FORCED once a chunk reaches this many tokens, so an anchor-free
    * run (P(no anchor in n) = (15/16)^n — but 'na na na …' boilerplate
    * of one non-anchor token hits it deterministically) can no longer
    * collapse into one doc-length chunk. Forced breaks are periodic
    * FROM THE LAST ANCHOR, so chunking stays alignment-invariant for
    * any shared block shorter than the bound (and for every
    * anchor-started chunk inside longer blocks); only forced chunks
    * whose gap began before the shared region can misalign — the
    * usual CDC max-bound trade.
    */
  private[graft] val MaxPassageTokens = 64

  /** Content-defined passages of the normalized token stream: a new
    * passage starts at token 1, at every anchor token ([[anchors]]),
    * and at every [[MaxPassageTokens]]th token of an anchor-free run.
    * Passages partition the stream (non-overlapping, covering — the
    * scrub rebuild contract), built by one array-local fold: no
    * explode-then-window, no shuffle. Per-doc cost is O(n ·
    * maxChunkChars) character copying (the pending chunk is rebuilt
    * per append but the cap bounds it — the uncapped fold was O(n²)
    * on anchor-free docs) plus O(chunks) reference copies per
    * emitted chunk for the done-array append.
    */
  private def cdcPassages: Column = {
    val empty = array().cast("array<string>")
    aggregate(
      anchors(toks),
      struct(empty.as("done"), lit("").as("cur"), lit(0).as("n")),
      (acc, ta) => {
        val t = ta.getField("t")
        // `n` = tokens in the pending chunk; 0 ⟺ nothing folded yet,
        // which distinguishes a genuinely empty accumulator from a
        // pending chunk whose only token is the empty string (split
        // on ' ' emits "" for empty/multi-space text)
        val n = acc.getField("n")
        val startNew =
          (ta.getField("anchor") || n >= lit(MaxPassageTokens)) && n > lit(0)
        struct(
          when(startNew, concat(acc.getField("done"), array(acc.getField("cur"))))
            .otherwise(acc.getField("done")).as("done"),
          when(startNew || n === lit(0), t)
            .otherwise(concat(acc.getField("cur"), lit(" "), t)).as("cur"),
          when(startNew || n === lit(0), lit(1)).otherwise(n + lit(1)).as("n"))
      },
      acc => concat(acc.getField("done"), array(acc.getField("cur"))))
  }

  /** (doc_id, idx, passage, n_passage_tokens) — the exploded
    * content-defined passage stream both passage operators consume.
    * Token count is recovered by re-splitting: tokens contain no
    * spaces, so join-then-split is lossless even for empty tokens.
    */
  private def passageRows(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), posexplode(cdcPassages).as(Seq("idx", "passage")))
      .withColumn("n_passage_tokens",
        size(split(col("passage"), " ")).cast(LongType))

  /** Cross-document duplicated-passage signal — the CCNet/RefinedWeb
    * line-level dedup filter at the passage grain, sitting between
    * whole-document dedup (Dedup.exact) and within-document n-gram
    * repetition ([[repetition]]): boilerplate passages (headers,
    * disclaimers, navigation) recur across MANY documents while each
    * host document stays unique, so per-doc "fraction of passages
    * shared with other docs" is the standard strip-or-keep feature —
    * and it localizes WHICH parts of a near-dup pair overlap, which
    * document-level minhash cannot.
    *
    * Passages are CONTENT-DEFINED ([[cdcPassages]]; expected 16-token
    * grain): through r9 this family hashed non-overlapping fixed
    * 16-token windows, which MISS any cross-doc duplicate offset by a
    * non-multiple of 16 — the common case when boilerplate follows a
    * variable-length header (VERDICT r8/r9 #1). Anchoring boundaries
    * on token content makes the chunking alignment-invariant: a
    * shared block yields bit-identical interior passages at ANY
    * offset (runs longer than [[MaxPassageTokens]] break on the
    * forced periodic boundary — see the bound's own trade note).
    * Passages shorter than `minTokens` are too weak to key (a lone
    * stopword would df-match half the corpus) and carry no passage
    * grain; a doc with no qualifying passage is absent from the
    * output, as short docs were before. The recall trade of
    * content-defined boundaries (r10 ADVICE): chunk lengths are
    * GEOMETRIC, so ~1/16 of boundaries spawn sub-`minTokens` chunks
    * that are never keyed — short boilerplate fragments adjacent to
    * an anchor are invisible to dedup/scrub where fixed windows
    * could catch them (this repo's fixture: 78 shared occurrences
    * under CDC vs 124 under aligned fixed windows), bought for
    * alignment invariance. Tune `minTokens` against that variance,
    * not against a fixed-window mental model.
    *
    * Scale shape unchanged: md5 keys; cross-doc df per passage via one
    * uniform-key aggregate (map-side partials), joined back SALTED on
    * (passage_md5, hash(doc_id)) — a boilerplate passage is exactly a
    * Zipf head key, the same skew the tf-idf family salts
    * ([[graft.operators.Partitioning.saltedEquiJoin]]) — then a
    * doc-keyed rollup. Integer counts + one exact rational division;
    * engine-exact.
    */
  def passageDedup(documents: DataFrame, minTokens: Int = 4): DataFrame = {
    val passages = passageRows(documents)
      .filter(col("n_passage_tokens") >= minTokens)
      .select(col("doc_id"), md5(col("passage").cast("binary")).as("passage_md5"))
    val df = passages.groupBy("passage_md5")
      .agg(countDistinct(col("doc_id")).as("passage_df"))
    Partitioning.saltedEquiJoin(passages, df, "passage_md5", col("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("passage_df") > 1, 1L).otherwise(0L)).as("n_shared_passages"),
        max(col("passage_df")).as("max_passage_df"))
      .withColumn("shared_passage_ratio",
        col("n_shared_passages").cast("double") / col("n_passages"))
      .select("doc_id", "n_passages", "n_shared_passages", "max_passage_df",
        "shared_passage_ratio")
      .orderBy("doc_id")
  }

  /** The transform [[passageDedup]] is the signal for: REMOVE
    * cross-document duplicated passages and reassemble the cleaned
    * text (the RefinedWeb/CCNet line-dedup step applied at the
    * passage grain). Every occurrence of a passage seen in more than
    * one document is stripped EXCEPT in its canonical (min doc_id)
    * document — one copy of each boilerplate block survives corpus-
    * wide, so no content is lost, while every other host sheds it.
    *
    * Passages are the same CONTENT-DEFINED chunks as [[passageDedup]]
    * ([[cdcPassages]]; alignment-invariant, so a boilerplate block
    * offset by a variable-length header is scrubbed where the old
    * fixed windows missed it). The chunks PARTITION the token stream
    * — non-overlapping and covering — so the rebuild contract is
    * exact: output text = the doc's kept chunks joined in original
    * order, and removed tokens are accounted one-for-one in
    * `n_removed_tokens`. Chunks shorter than `minTokens` are never
    * boilerplate-keyed and always survive (the content-positioned
    * successor of the old sub-window tail), so a doc with no
    * qualifying chunk passes through unchanged (normalized).
    *
    * Scale shape: passage keys are md5'd; the df/min-owner aggregate
    * is ONE uniform-key groupBy with map-side partials; the join back
    * is SALTED on (passage_md5, hash(doc_id)) because a boilerplate
    * passage IS a Zipf head key ([[graft.operators.Partitioning.saltedEquiJoin]]);
    * the rebuild is a doc-keyed collect of that doc's OWN chunks —
    * bounded by document length, the same per-doc grain every map
    * stage here already holds. No per-corpus window, no all-pairs.
    */
  def passageScrub(documents: DataFrame, minTokens: Int = 4): DataFrame = {
    // `rows` feeds the keyed-owner aggregate AND the join probe, so the
    // tokenize+chunk scan runs twice — the tfidf/commonness double-scan
    // trade-off (measured there: an eager checkpoint of the whitespace
    // split was flat-to-slower than re-scanning; see tfidfTopTerms)
    val rows = passageRows(documents)
      .withColumn("keyed", col("n_passage_tokens") >= minTokens)
    val keyed = rows.filter(col("keyed"))
      .withColumn("passage_md5", md5(col("passage").cast("binary")))
    val owners = keyed.groupBy("passage_md5")
      .agg(countDistinct(col("doc_id")).as("passage_df"),
        min(col("doc_id")).as("owner_doc"))
    // sub-minTokens chunks skip the join entirely (always kept) — a
    // union of two map branches, not a left join, keeps the salted
    // inner join's skew handling intact
    val judged = Partitioning
      .saltedEquiJoin(keyed, owners, "passage_md5", col("doc_id"))
      .select(col("doc_id"), col("idx"), col("passage"),
        col("n_passage_tokens"), col("keyed"),
        (col("passage_df") === 1 || col("doc_id") === col("owner_doc"))
          .as("keep_passage"))
      .unionByName(rows.filter(!col("keyed"))
        .select(col("doc_id"), col("idx"), col("passage"),
          col("n_passage_tokens"), col("keyed"),
          lit(true).as("keep_passage")))
    // per-doc rebuild: chunks are doc-local, so the collect is bounded
    // by one document's own chunk count; every doc has ≥1 chunk, so
    // the rollup alone covers the whole corpus (no base re-join)
    judged.groupBy("doc_id")
      .agg(sum(when(col("keyed"), 1L).otherwise(0L)).as("n_passages"),
        sum(when(!col("keep_passage"), 1L).otherwise(0L)).as("n_removed"),
        sum(when(!col("keep_passage"), col("n_passage_tokens"))
          .otherwise(0L)).as("n_removed_tokens"),
        array_join(transform(
          array_sort(collect_list(when(col("keep_passage"),
            struct(col("idx"), col("passage"))))),
          s => s.getField("passage")), " ").as("scrubbed_text"))
      .select("doc_id", "n_passages", "n_removed", "n_removed_tokens",
        "scrubbed_text")
      .orderBy("doc_id")
  }

  /** Unigram cross-entropy of each document under the corpus's own
    * unigram distribution — the oracle-able form of the CCNet
    * language-model perplexity filter (CCNet buckets a corpus by LM
    * perplexity and keeps the middle: very low = boilerplate of
    * ubiquitous tokens, very high = rare-token noise). With
    * p(t) = freq(t)/total, per-doc mean −log2 p factors into
    * log2(total) − mean(log2 freq(t)), so every log argument is an
    * integer corpus count.
    *
    * Determinism is engineered in two layers: each per-token
    * log2(freq) is quantized to integer MICRO-units BEFORE the
    * per-doc sum, so the distributed aggregation sums LONGS —
    * order-independent where a double sum over an unordered shuffle
    * is not (the decimal-money trick applied to logs) — and the final
    * division is one correctly-rounded IEEE op on the same two exact
    * integers in both engines. Shuffle shape = the tf-idf family:
    * uniform-key freq aggregate (map-side partials), join back SALTED
    * on (term, hash(doc_id)) — Zipf head terms are the hot keys —
    * doc-keyed rollup, 1-row total broadcast.
    */
  def unigramLogloss(documents: DataFrame): DataFrame = {
    // `terms` feeds the freq aggregate and the join probe (the
    // tfidf/commonness double-scan trade-off, measured there). The
    // freq AGGREGATE, however, is vocabulary-sized — checkpointing it
    // once lets both the salted join and the total rollup
    // (Σ freq ≡ token count) read materialized rows instead of each
    // re-running the full corpus aggregation (Spark does not dedupe
    // shared subtrees).
    val terms = documents.select(col("doc_id"), explode(toks).as("term"))
    val freq = terms.groupBy("term").agg(count(lit(1)).as("term_freq"))
      .localCheckpoint(true)
    val total = freq.agg(sum(col("term_freq")).as("total_tokens"))
    val lf = floor(log2(col("term_freq").cast("double")) * 1e6 + 0.5)
      .cast(LongType)
    Partitioning.saltedEquiJoin(terms, freq, "term", col("doc_id"))
      .select(col("doc_id"), lf.as("lf"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("lf")).as("sum_logf_micro"))
      .crossJoin(broadcast(total)) // 1-row scalar
      .select(col("doc_id"), col("n_tokens"), col("sum_logf_micro"),
        (floor(log2(col("total_tokens").cast("double")) * 1e6 + 0.5).cast(LongType) -
          floor(col("sum_logf_micro").cast("double") / col("n_tokens") + 0.5)
            .cast(LongType)).as("logloss_microbits"))
      .orderBy("doc_id")
  }

  /** Bigram cross-entropy of each document under the corpus's own
    * add-one-smoothed bigram model (r8) — the n-gram step up from
    * [[unigramLogloss]] toward the CCNet-style LM-perplexity filter:
    * unigram logloss scores token RARITY, bigram logloss scores
    * SEQUENCE plausibility (shuffled or machine-concatenated text
    * carries common tokens in improbable orders — invisible to the
    * unigram model, loud here). With P(w2|w1) = (c2(w1,w2)+1) /
    * (c1(w1)+V), per-bigram −log2 P = log2(c1+V) − log2(c2+1): every
    * log argument is an exact integer corpus count, each log is
    * micro-quantized SEPARATELY before the per-doc Long sum, and the
    * final mean is one correctly-rounded division — the unigram
    * determinism discipline verbatim. Docs with <2 tokens have no
    * bigrams and are absent (stated in the oracle).
    *
    * Scale shape: ONE corpus map stage builds doc-local consecutive
    * pairs (HOF over the token array — no positional self-join); the
    * bigram aggregate map-side-combines to observed-bigram scale
    * (Zipf-bounded ≪ corpus tokens); history counts c1 and the
    * per-bigram contribution table derive from THAT vocabulary²-scale
    * table, never from a corpus rescan; V is a 1-row broadcast; the
    * one corpus-scale join (pairs ⋈ contribution) is SALTED on the
    * bigram key — Zipf head bigrams ("of the") are the hot keys.
    * Contribution table checkpointed: it feeds the join build side
    * once instead of re-running the aggregate chain per consumer.
    */
  /** Doc-local consecutive token pairs as "w1 w2" keys — ONE map
    * stage (HOF over the token array, no positional self-join).
    */
  private def bigramPairs(documents: DataFrame): DataFrame = {
    val bg = transform(graft.functions.ColUtil.posRange(size(toks) - lit(1)),
      i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1)))
    documents.select(col("doc_id"), explode(bg).as("bigram"))
  }

  /** The bigram model's carried state halves — both ASSOCIATIVE under
    * summation, which is what lets a steady-state run absorb batches
    * ([[bigramLoglossIncremental]]): the (bigram, count) table, and
    * the (term, count) table (needed separately because a vocabulary
    * term that only ever ends documents appears in NO bigram, yet
    * still widens the smoothing denominator V).
    */
  def bigramCounts(documents: DataFrame): DataFrame =
    bigramPairs(documents).groupBy("bigram")
      .agg(count(lit(1)).as("bigram_freq"))

  /** Public handle on the doc-local pair stream — what the streaming
    * twin sinks compactly beside its scores so the retro re-score
    * never re-reads the texts.
    */
  def bigramPairsOf(documents: DataFrame): DataFrame = bigramPairs(documents)

  def termCounts(documents: DataFrame): DataFrame =
    documents.select(explode(toks).as("term"))
      .groupBy("term").agg(count(lit(1)).as("term_freq"))

  def mergeBigramCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("bigram")
      .agg(sum(col("bigram_freq")).as("bigram_freq"))

  def mergeTermCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("term")
      .agg(sum(col("term_freq")).as("term_freq"))

  /** One DECLARATIVE plan, zero internal checkpoints (r12 — the
    * doc_perplexity_bucket regression diagnosis): the r11 chain
    * materialized c2 and the contribution table eagerly because c2
    * fed TWO consumers (the c1 history aggregate and the contrib
    * join). With [[bigramScore]]'s window-based history sum, c2 has
    * ONE consumer, so the checkpoints bought nothing and cost two
    * full job barriers per call — the query ran as 3+ serialized jobs
    * at cpu_util ~0.16, maximally exposed to scheduler latency (the
    * rising-rep signature was barrier-bound wall, not a leak: per-rep
    * gc was ~0 throughout). Catalyst now schedules the three corpus
    * scans (pairs probe, bigram counts, vocabulary size) inside one
    * job.
    */
  def bigramLogloss(documents: DataFrame): DataFrame =
    bigramScore(bigramPairs(documents), bigramCounts(documents),
      termCounts(documents))

  /** Incremental bigram scoring — the [[ngramNoveltyIncremental]]
    * shape for the perplexity filter: a standing corpus carried as
    * its model counts ([[bigramCounts]] + [[termCounts]], both
    * associative under summation), an arriving batch scored under the
    * MERGED model (standing + batch), so the output is EXACTLY the
    * one-shot [[bigramLogloss]] over (corpus ∪ batch) restricted to
    * batch docs — the oracle states the restriction literally, the
    * spec asserts frame equality. Steady-state cost per tick = the
    * batch's own pair/term scans + vocabulary²-scale count merges;
    * never a corpus rescan. (Standing docs' STORED scores do drift as
    * the model grows — the quality-gate reconcile story, not the
    * novelty no-drift one; re-score at maintenance cadence from the
    * carried counts.)
    */
  def bigramLoglossIncremental(batch: DataFrame,
                               corpusBigrams: DataFrame,
                               corpusTerms: DataFrame): DataFrame =
    // merged model consumed ONCE by the window-based scoring tail
    // (r12) — no checkpoint; see [[bigramLogloss]]
    bigramScore(bigramPairs(batch),
      mergeBigramCounts(corpusBigrams, bigramCounts(batch)),
      mergeTermCounts(corpusTerms, termCounts(batch)))

  /** Default kept fraction N/D of the perplexity bucketing: 2/3
    * reproduces the CCNet tercile recipe (head and middle kept).
    */
  val PerplexityKept: (Int, Int) = (2, 3)

  /** CCNet-style perplexity bucketing (r8) — the decision layer the
    * LM-perplexity pipeline exists for: per language, docs split into
    * head / middle / tail thirds by their [[bigramLogloss]] score
    * (head = lowest cross-entropy = most fluent under the corpus's
    * own model), and the published `kept` drops the tail — the CCNet
    * recipe (Wenzek et al. 2020 train on head+middle; the bucket
    * column keeps the policy a config choice downstream).
    *
    * Thresholds are BUCKET-GRAIN greedy over the metadata-scale
    * (lang, score) count histogram — the qualityGate discipline: the
    * ascending cumulative runs over ≤ distinct-score rows per
    * language, t1/t2 are the smallest scores whose cumulative covers
    * n/3 and 2n/3 (integer logic: cum·3 ≥ n, no division), and the
    * per-doc keep test is a broadcast join — NO per-doc window, no
    * ntile (whose positional tie-splitting is not oracle-exact).
    * The scored frame is checkpointed: it feeds the histogram AND the
    * final join, and recomputing it would re-run the whole bigram
    * chain per consumer.
    */
  def perplexityBuckets(documents: DataFrame,
                        keptNumer: Int = PerplexityKept._1,
                        keptDenom: Int = PerplexityKept._2): DataFrame = {
    val scored = bigramLogloss(documents)
      .join(documents.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("logloss_microbits"))
      .localCheckpoint(true)
    bucketAgainstThresholds(scored,
      perplexityThresholds(perplexityHistogram(scored), keptNumer, keptDenom))
  }

  /** (lang, logloss_microbits, n) count histogram of a scored frame —
    * the carried state of the streaming twin
    * ([[graft.streaming.EventStream.perplexityBucketStream]]): bounded
    * by distinct (lang, score) pairs — metadata-scale, never the
    * corpus — and ASSOCIATIVE under count summation
    * ([[mergePerplexityHistograms]]), which is what makes the
    * cross-trigger carry exact.
    */
  def perplexityHistogram(scoredLang: DataFrame): DataFrame =
    scoredLang.groupBy("lang", "logloss_microbits")
      .agg(count(lit(1)).as("n"))

  def mergePerplexityHistograms(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("lang", "logloss_microbits")
      .agg(sum(col("n")).as("n"))

  /** Per-language bucket thresholds from a (lang, score, n)
    * histogram: BUCKET-GRAIN greedy — the ascending cumulative runs
    * over ≤ distinct-score rows per language. The KEPT fraction is
    * the rational keptNumer/keptDenom ([[PerplexityKept]] by default):
    * t2 is the smallest score whose cumulative covers kept·n (the
    * keep|tail cut), t1 the smallest covering kept·n/2 (head = half
    * the kept mass). All cuts are exact integer cross-multiplies —
    * cum·D ≥ n·N, no
    * division, no ntile whose positional tie-splitting is not
    * oracle-exact — and the 2/3 default reproduces the CCNet tercile
    * recipe bit-for-bit (cum·3 ≥ n and cum·3 ≥ 2n, scaled by 2).
    */
  def perplexityThresholds(hist: DataFrame,
                           keptNumer: Int = PerplexityKept._1,
                           keptDenom: Int = PerplexityKept._2): DataFrame = {
    require(keptNumer > 0 && keptDenom >= keptNumer,
      s"kept fraction must satisfy 0 < N <= D: $keptNumer/$keptDenom")
    val totals = hist.groupBy("lang").agg(sum(col("n")).as("n_lang"))
    val wAsc = Window.partitionBy("lang").orderBy(col("logloss_microbits"))
    val cum = hist.withColumn("cum", sum(col("n")).over(wAsc))
      .join(totals, Seq("lang"))
    cum.groupBy("lang").agg(
      min(when(col("cum") * (2L * keptDenom) >= col("n_lang") * keptNumer,
        col("logloss_microbits"))).as("t1_micro"),
      min(when(col("cum") * keptDenom.toLong >= col("n_lang") * keptNumer,
        col("logloss_microbits"))).as("t2_micro"))
  }

  /** The bucket decision: per-doc keep test against the broadcast
    * per-language thresholds — NO per-doc window. `kept` drops the
    * tail (CCNet trains on head+middle; the bucket column keeps the
    * policy a config choice downstream).
    */
  def bucketAgainstThresholds(scoredLang: DataFrame, th: DataFrame): DataFrame =
    scoredLang.join(broadcast(th), Seq("lang"))
      .withColumn("bucket",
        when(col("logloss_microbits") <= col("t1_micro"), "head")
          .when(col("logloss_microbits") <= col("t2_micro"), "middle")
          .otherwise("tail"))
      .withColumn("kept", col("bucket") =!= "tail")
      .select("doc_id", "lang", "logloss_microbits", "t1_micro", "t2_micro",
        "bucket", "kept")
      .orderBy("doc_id")

  /** Score a doc set under an EXPLICIT model — the streaming twin's
    * per-trigger entry ([[graft.streaming.EventStream]]): the caller
    * owns the model tables (merged, MATERIALIZED — a parquet-backed
    * state or a checkpoint, never an expensive lazy lineage: the
    * bigram table feeds two consumers inside the scoring tail).
    */
  def bigramLoglossAgainstModel(batch: DataFrame, bigramModel: DataFrame,
                                termModel: DataFrame): DataFrame =
    bigramScore(bigramPairs(batch), bigramModel, termModel)

  /** Score a SUNK pair stream under a model — the retro re-score
    * entry: the streaming twin lands each batch's (doc_id, bigram)
    * stream compactly beside the scores, and the reconcile pass
    * re-scores those pairs against the FINAL model without ever
    * re-reading the texts (the noveltyStream pairs-sink discipline).
    */
  def bigramLoglossFromPairs(pairs: DataFrame, bigramModel: DataFrame,
                             termModel: DataFrame): DataFrame =
    bigramScore(pairs, bigramModel, termModel)

  /** Scoring tail shared by the one-shot and incremental forms:
    * history counts fall out of the bigram table as a WINDOW sum over
    * the w1 partition (c1(w1) = Σ c2(w1,·) — one exchange+sort of the
    * vocabulary²-scale table, replacing r11's separate aggregate +
    * self-join which consumed c2 TWICE and therefore forced callers
    * to materialize it; exact integer Long sums either way), V is the
    * term table's row count (1-row broadcast), and the one
    * corpus-scale join is salted on the bigram key. Every input is
    * consumed exactly once, so the whole tail is one declarative plan
    * — no checkpoint, no job barrier (r12; the per-consumer
    * re-execution the old contrib checkpoint guarded against cannot
    * occur with single-consumer inputs).
    */
  private def bigramScore(pairs: DataFrame, c2: DataFrame,
                          terms: DataFrame): DataFrame = {
    val wHist = Window.partitionBy("w1")
    val vocab = terms.agg(count(lit(1)).as("v"))
    val contrib = c2
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("hist_freq", sum(col("bigram_freq")).over(wHist))
      .crossJoin(broadcast(vocab)) // 1-row scalar
      .select(col("bigram"),
        (floor(log2((col("hist_freq") + col("v")).cast("double")) * 1e6 + 0.5)
          .cast(LongType) -
          floor(log2((col("bigram_freq") + lit(1)).cast("double")) * 1e6 + 0.5)
            .cast(LongType)).as("nll_micro"))
    Partitioning.saltedEquiJoin(pairs, contrib, "bigram", col("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_micro")).as("sum_nll_micro"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_nll_micro"),
        floor(col("sum_nll_micro").cast("double") / col("n_bigrams") + 0.5)
          .cast(LongType).as("logloss_microbits"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------
  // Stupid-backoff trigram scoring (Brants et al. 2007, "Large
  // Language Models in Machine Translation" §4) — the scoring scheme
  // Google's 2007-era large LMs shipped because, unlike Kneser-Ney,
  // it needs NO discount fitting and its counts stay exactly
  // associative (the property every carried state in this engine is
  // classed by). Score chain: S(w|u v) = f(uvw)/f(uv) if the trigram
  // was seen, else 0.4·S(w|v); S(w|v) = f(vw)/f(v) if seen, else
  // 0.4·S(w); base S(w) = (f(w)+1)/(N+V) — the base level carries
  // Laplace smoothing (a documented deviation from the paper, which
  // never scores out-of-vocabulary words) so HELD-OUT scoring is
  // total. Scored HELD-OUT by design: a self-trained model contains
  // every trigram it scores, so backoff would never fire (the spec
  // pins that degeneracy); the registry entry trains on the even-
  // doc_id half and scores the odd half — the bigramLoglossIncremental
  // split convention, and the deployment shape (score NEW data under
  // a reference-corpus model, the CCNet/perplexity-filter posture).
  // ------------------------------------------------------------------

  /** Doc-local consecutive token triples as "w1 w2 w3" keys — ONE map
    * stage (the [[bigramPairs]] shape, one wider). Every backoff probe
    * key (context bigram, backoff bigram, context/scored unigrams) is
    * a pure function of the trigram string, so the probe stream stays
    * two columns and the model joins run at DISTINCT-trigram scale.
    * The token array is materialized in its own projection (referenced
    * four times per lambda element and non-cheap, so CollapseProject
    * keeps it) — HOF lambda bodies run interpreted, and an inlined
    * split would re-tokenize the text per position.
    */
  private def trigramPairs(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), toks.as("__tk"))
      .select(col("doc_id"), explode(transform(
        graft.functions.ColUtil.posRange(size(col("__tk")) - lit(2)),
        i => concat_ws(" ", element_at(col("__tk"), i),
          element_at(col("__tk"), i + 1),
          element_at(col("__tk"), i + 2)))).as("trigram"))

  /** The trigram model's carried state — associative under summation
    * like [[bigramCounts]]/[[termCounts]], so a steady-state run
    * absorbs batches by count merge.
    */
  def trigramCounts(documents: DataFrame): DataFrame =
    trigramPairs(documents).groupBy("trigram")
      .agg(count(lit(1)).as("trigram_freq"))

  /** Public handle on the doc-local trigram probe stream — what the
    * streaming twin sinks compactly beside its scores so the retro
    * re-score never re-reads the texts (the [[bigramPairsOf]]
    * convention).
    */
  def trigramPairsOf(documents: DataFrame): DataFrame =
    trigramPairs(documents)

  def mergeTrigramCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("trigram")
      .agg(sum(col("trigram_freq")).as("trigram_freq"))

  /** −log2 of the stupid-backoff score, micro-quantized PER LEVEL
    * TERM (the [[bigramScore]] discipline — every log2 runs on exact
    * integer inputs, so correctly-rounded log2 keeps both engines
    * bit-identical): level 0 = micro(log2 f(uv)) − micro(log2 f(uvw));
    * level 1 adds one backoff penalty −micro(log2 0.4) and uses
    * f(v)/f(vw); level 2 adds two penalties over the Laplace base
    * (N+V)/(f(w)+1). Published per probe: the level (0/1/2 — the
    * OOV-pressure diagnostic) and nll_micro.
    */
  private def trigramBackoffContrib(keys: DataFrame, c3: DataFrame,
      c2: DataFrame, c1: DataFrame): DataFrame = {
    def micro(x: Column): Column =
      floor(log2(x.cast("double")) * 1e6 + 0.5).cast(LongType)
    // one backoff step multiplies the score by 0.4: −log2(0.4) > 0
    val boPenalty = (-floor(log2(lit(0.4)) * 1e6 + 0.5)).cast(LongType)
    val totals = c1.agg(sum(col("term_freq")).as("n_total"),
      count(lit(1)).as("v"))
    val parts = split(col("trigram"), " ")
    val withKeys = keys
      .withColumn("ctx2", concat_ws(" ", parts.getItem(0), parts.getItem(1)))
      .withColumn("bo_bi", concat_ws(" ", parts.getItem(1), parts.getItem(2)))
      .withColumn("ctx1", parts.getItem(1))
      .withColumn("uni", parts.getItem(2))
    withKeys
      .join(c3.select(col("trigram"), col("trigram_freq").as("f3")),
        Seq("trigram"), "left")
      .join(c2.select(col("bigram").as("ctx2"), col("bigram_freq").as("f2c")),
        Seq("ctx2"), "left")
      .join(c2.select(col("bigram").as("bo_bi"), col("bigram_freq").as("f2")),
        Seq("bo_bi"), "left")
      .join(c1.select(col("term").as("ctx1"), col("term_freq").as("f1c")),
        Seq("ctx1"), "left")
      .join(c1.select(col("term").as("uni"), col("term_freq").as("f1")),
        Seq("uni"), "left")
      .crossJoin(broadcast(totals)) // 1-row scalar
      .select(col("trigram"),
        when(col("f3").isNotNull, lit(0L))
          .when(col("f2").isNotNull, lit(1L))
          .otherwise(lit(2L)).as("backoff_level"),
        when(col("f3").isNotNull, micro(col("f2c")) - micro(col("f3")))
          .when(col("f2").isNotNull,
            boPenalty + micro(col("f1c")) - micro(col("f2")))
          .otherwise(lit(2L) * boPenalty +
            micro(col("n_total") + col("v")) -
            micro(coalesce(col("f1"), lit(0L)) + lit(1L)))
          .as("nll_micro"))
  }

  /** Per-document stupid-backoff trigram cross-entropy of `batch`
    * under the model counts of `standing` (trigram/bigram/term counts
    * all from [[trigramCounts]]/[[bigramCounts]]/[[termCounts]] of the
    * standing corpus — NOT merged with the batch, so unseen batch
    * n-grams genuinely back off). Output per batch doc (≥3 tokens):
    * n_trigrams, per-level probe counts (n_bo1 = fell to the bigram,
    * n_bo2 = fell to the smoothed unigram base), sum_nll_micro and
    * the mean logloss in microbits.
    *
    * Scale shape: the probe stream is one batch map stage; the
    * contribution table derives at DISTINCT-trigram scale (five
    * vocabulary-scale left joins + a 1-row totals broadcast); the one
    * corpus-scale join (probes ⋈ contrib) is SALTED on the trigram
    * key — Zipf-head trigrams are the hot keys ([[bigramScore]]'s
    * join discipline).
    */
  def trigramBackoff(batch: DataFrame, standing: DataFrame): DataFrame =
    trigramBackoffScore(trigramPairs(batch), trigramCounts(standing),
      bigramCounts(standing), termCounts(standing))

  /** [[trigramBackoff]] over pre-computed model counts — the carried-
    * state entry point (all three count tables merge by summation).
    * The probe stream feeds TWO consumers (the distinct contribution
    * keys and the salted scoring join) and Spark does not dedupe
    * shared subtrees, so it is checkpointed once — without it a
    * caller passing a trigramPairs(batch) subtree re-tokenizes and
    * re-explodes the batch per consumer (the dsirWeights discipline).
    */
  def trigramBackoffScore(probes: DataFrame, c3: DataFrame,
      c2: DataFrame, c1: DataFrame): DataFrame = {
    val p = probes.localCheckpoint(true)
    val contrib = trigramBackoffContrib(
      p.select("trigram").distinct(), c3, c2, c1)
    Partitioning.saltedEquiJoin(p, contrib, "trigram", col("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        count(when(col("backoff_level") === 1L, 1)).as("n_bo1"),
        count(when(col("backoff_level") === 2L, 1)).as("n_bo2"),
        sum(col("nll_micro")).as("sum_nll_micro"))
      .select(col("doc_id"), col("n_trigrams"), col("n_bo1"), col("n_bo2"),
        col("sum_nll_micro"),
        floor(col("sum_nll_micro").cast("double") / col("n_trigrams") + 0.5)
          .cast(LongType).as("logloss_microbits"))
      .orderBy("doc_id")
  }

  /** Per-source backoff exposure report over [[trigramBackoff]]'s
    * probe stream — which sources the standing model covers poorly
    * (high bo2 share = OOV pressure = the source least like the
    * reference corpus). Shares are exact-long divisions.
    */
  def trigramBackoffSummary(batch: DataFrame, standing: DataFrame): DataFrame = {
    // one tokenize+explode pass shared by the contrib keys and the
    // scoring join (trigramBackoffScore's checkpoint discipline)
    val probes = trigramPairs(batch).localCheckpoint(true)
    val contrib = trigramBackoffContrib(
      probes.select("trigram").distinct(),
      trigramCounts(standing), bigramCounts(standing), termCounts(standing))
    val scored = Partitioning.saltedEquiJoin(
      probes, contrib, "trigram", col("doc_id"))
    scored
      .join(batch.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_trigrams"),
        count(when(col("backoff_level") === 1L, 1)).as("n_bo1"),
        count(when(col("backoff_level") === 2L, 1)).as("n_bo2"),
        sum(col("nll_micro")).as("sum_nll_micro"))
      .select(col("source"), col("n_docs"), col("n_trigrams"),
        col("n_bo1"), col("n_bo2"),
        (col("n_bo2").cast("double") / col("n_trigrams")).as("bo2_share"),
        floor(col("sum_nll_micro").cast("double") / col("n_trigrams") + 0.5)
          .cast(LongType).as("logloss_microbits"))
      .orderBy("source")
  }

  /** Corpus-cleaning funnel: how many documents survive each filter
    * stage — quality gate, then exact dedup, then repetition — the
    * pipeline summary a training-data run reports (each stage is the
    * conjunction of all previous filters). Composes the per-doc flags
    * of [[textQuality]], [[Dedup.exact]] and [[repetition]] via
    * doc_id joins, then unpivots the four cumulative counts.
    */
  def corpusFunnel(documents: DataFrame): DataFrame = {
    val q = textQuality(documents).select(col("doc_id"), col("keep"))
    val d = Dedup.exact(documents).select(col("doc_id"), col("is_dup"))
    val r = repetition(documents).select(col("doc_id"), col("is_repetitive"))
    q.join(d, Seq("doc_id")).join(r, Seq("doc_id"))
      .agg(count(lit(1)).as("n_total"),
        count(when(col("keep"), 1)).as("n_quality"),
        count(when(col("keep") && !col("is_dup"), 1)).as("n_qd"),
        count(when(col("keep") && !col("is_dup") && !col("is_repetitive"), 1))
          .as("n_clean"))
      .selectExpr(
        "stack(4, CAST(1 AS BIGINT), 'total', n_total, " +
          "CAST(2 AS BIGINT), 'quality', n_quality, " +
          "CAST(3 AS BIGINT), 'quality+dedup', n_qd, " +
          "CAST(4 AS BIGINT), 'quality+dedup+repetition', n_clean) " +
          "as (stage_n, stage, n_docs)")
      .orderBy("stage_n")
  }

  /** Intra-document repetition profile (the Gopher-style repetition
    * filter): duplicate bigram/trigram mass per document. Pure per-row
    * array math — no shuffle, linear scan. Grams are hashed to 60-bit
    * ints before the distinct (cheap Long dedup instead of string
    * dedup; both engines hash identically so counts are exact), and
    * the gram arrays are materialized in their own projection so the
    * three stats reading each array share ONE evaluation.
    */
  def repetition(documents: DataFrame): DataFrame = {
    // ONE md5 per token (28-bit ints, one native pass), then gram keys
    // by arithmetic combination in HOF lambdas, which Spark interprets
    // per element — so the per-gram work stays shallow (a digest per
    // gram in a lambda was ~7 s at sf0.1, the combine form ~1 s). Keys:
    // bigram = t0·2^28 + t1 (56-bit exact); trigram folds through
    // mod 2^31−1 to stay in 59 bits. Both engines build identical keys,
    // so distinct counts agree exactly.
    val B = 268435456L      // 2^28
    val P = 2147483647L     // 2^31 − 1
    val tm = graft.functions.TextExpressions.md5Keys(toks, 1, 28)
    val g2 = transform(
      graft.functions.ColUtil.posRange(size(col("__tm")) - 1),
      i => element_at(col("__tm"), i) * B + element_at(col("__tm"), i + 1))
    val g3 = transform(
      graft.functions.ColUtil.posRange(size(col("__tm")) - 2),
      i => ((element_at(col("__tm"), i) * B + element_at(col("__tm"), i + 1)) % P) * B +
        element_at(col("__tm"), i + 2))
    documents
      .select(col("doc_id"), tm.as("__tm"))
      .select(col("doc_id"), g2.as("__g2"), g3.as("__g3"))
      // each expensive expression referenced exactly once per layer —
      // counts materialize here, ratios derive from the longs below
      .select(col("doc_id"),
        size(col("__g2")).cast(LongType).as("n_bigrams"),
        size(array_distinct(col("__g2"))).cast(LongType).as("n_distinct_bigrams"),
        size(col("__g3")).cast(LongType).as("n_trigrams"),
        size(array_distinct(col("__g3"))).cast(LongType).as("n_distinct_trigrams"))
      .select(col("doc_id"),
        col("n_bigrams"), col("n_distinct_bigrams"),
        // try_divide: a gram-less doc (1-2 tokens) has NULL ratios —
        // exactly what DuckDB's /0→NULL gives the oracle; the plain
        // `/` throws DIVIDE_BY_ZERO under ANSI and killed the task
        // (same r7.4 probe as the sequence-descend fix)
        (lit(1.0) - try_divide(col("n_distinct_bigrams").cast("double"),
          col("n_bigrams"))).as("dup_bigram_ratio"),
        col("n_trigrams"), col("n_distinct_trigrams"),
        (lit(1.0) - try_divide(col("n_distinct_trigrams").cast("double"),
          col("n_trigrams"))).as("dup_trigram_ratio"))
      .withColumn("is_repetitive", col("dup_trigram_ratio") > 0.2)
      .orderBy("doc_id")
  }

  /** Default share of each language's documents [[qualityGate]] drops. */
  val GateDropFraction: Double = 0.25

  /** Corpus-RELATIVE quality gate: drop the worst `dropFraction` of
    * each language's documents by type-token ratio (distinct tokens /
    * tokens — low = repetitive boilerplate). CCNet-style percentile
    * bucketing, engineered for 100 TB the same way the pack family's
    * two-phase scan is: NO per-document window. Scores quantize to
    * integer micro-units, the threshold comes from a per-(lang, score)
    * HISTOGRAM — at most 1e6+1 distinct scores per language, so the
    * per-lang cumulative window runs over a bounded metadata-scale
    * aggregate, not the corpus — and the tiny threshold table
    * broadcasts back for a map-side keep test. All integer logic, so
    * the oracle reproduces the gate exactly (no interpolated-
    * percentile-vs-raw-double boundary flake).
    *
    * Keep rule (mirrored verbatim in SQL): kept iff score_micro ≥ t,
    * where t is the smallest score whose inclusive cumulative count
    * exceeds floor(dropFraction · n_lang) — ties at the threshold are
    * kept, so at most the target fraction is dropped.
    */
  def qualityGate(documents: DataFrame,
                  dropFraction: Double = GateDropFraction): DataFrame = {
    // `scored` feeds the histogram AND the gate join, so the tokenize
    // pipeline runs twice — deliberately NOT checkpointed: same shape
    // and weight as tfidf/commonness, where the checkpoint measured
    // SLOWER at sf0.1 (whitespace split is cheaper than the
    // block-storage round trip). The streaming twin checkpoints its
    // batch scores anyway, because there the frame feeds the sink too.
    val scored = qualityScores(documents)
    gateAgainstThresholds(scored,
      gateThresholds(qualityHistogram(scored), dropFraction))
      .orderBy("doc_id")
  }

  /** Per-doc quality scores (the gate's map stage) — ONE definition
    * shared by the batch gate and the streaming twin, so gate semantics
    * cannot drift between them.
    */
  def qualityScores(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("lang"), toks.as("tk"))
      .select(col("doc_id"), col("lang"),
        size(col("tk")).cast(LongType).as("n_tokens"),
        size(array_distinct(col("tk"))).cast(LongType).as("n_distinct_tokens"))
      .withColumn("score_micro",
        floor(lit(1e6) * col("n_distinct_tokens") / col("n_tokens") + 0.5)
          .cast(LongType))

  /** (lang, score_micro) → count histogram. ASSOCIATIVE state: two
    * histograms merge by summing counts ([[mergeHistograms]]) — which
    * is exactly why the streaming twin can carry it across triggers
    * and reconcile to the one-shot answer.
    */
  def qualityHistogram(scored: DataFrame): DataFrame =
    scored.groupBy("lang", "score_micro").agg(count(lit(1)).as("n"))

  def mergeHistograms(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("lang", "score_micro").agg(sum(col("n")).as("n"))

  /** Per-language keep threshold from a histogram (the metadata-scale
    * cumulative window — never per-doc).
    */
  def gateThresholds(hist: DataFrame,
                     dropFraction: Double = GateDropFraction): DataFrame = {
    val wCum = Window.partitionBy("lang").orderBy("score_micro")
    val wTot = Window.partitionBy("lang")
    hist
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("total", sum(col("n")).over(wTot))
      .filter(col("cum") > floor(lit(dropFraction) * col("total")))
      .groupBy("lang").agg(min(col("score_micro")).as("threshold_micro"))
  }

  def gateAgainstThresholds(scored: DataFrame, thresholds: DataFrame): DataFrame =
    scored.join(broadcast(thresholds), Seq("lang"))
      .withColumn("kept", col("score_micro") >= col("threshold_micro"))
      .select("doc_id", "lang", "n_tokens", "n_distinct_tokens",
        "score_micro", "threshold_micro", "kept")

  /** The composite keep/drop verdict a production corpus filter
    * actually applies — Gopher rules AND not-repetitive AND character
    * entropy in the plausible-text band AND above the per-language
    * relative quality threshold — as ONE call, composed from the four
    * independently oracle-verified signals on uniform doc_id joins
    * (the corpus_report composition pattern). The three per-row
    * signals could fuse into a single scan at the cost of duplicating
    * their logic outside the verified operators; the composed form
    * keeps one definition per signal, and the scans it re-runs are
    * the map-only kind that scale linearly.
    */
  def qualityVerdict(documents: DataFrame,
                     entropyLoMicro: Long = 1000000L,
                     entropyHiMicro: Long = 6000000L,
                     dropFraction: Double = GateDropFraction): DataFrame = {
    val g = gopherQuality(documents).select(col("doc_id"), col("keep").as("gopher_keep"))
    val r = repetition(documents).select(col("doc_id"), col("is_repetitive"))
    val e = charEntropy(documents).select(col("doc_id"), col("entropy_microbits"))
    val q = qualityGate(documents, dropFraction)
      .select(col("doc_id"), col("kept").as("gate_keep"))
    g.join(r, "doc_id").join(e, "doc_id").join(q, "doc_id")
      .withColumn("entropy_ok",
        col("entropy_microbits").between(entropyLoMicro, entropyHiMicro))
      .select(col("doc_id"), col("gopher_keep"), col("is_repetitive"),
        col("entropy_ok"), col("gate_keep"),
        (col("gopher_keep") && !col("is_repetitive") &&
          col("entropy_ok") && col("gate_keep")).as("keep"))
      .orderBy("doc_id")
  }

  /** Split × lang distribution summary (the balance check run after
    * assignment).
    */
  def splitSummary(documents: DataFrame): DataFrame =
    split_assign(documents).groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "split")

  /** Polynomial rolling-hash fingerprint (base 31 mod 1e9+7 over code
    * points) — the incremental-hash family used for shingling/content-
    * defined chunking; one expression-level fold, no UDF.
    */
  def rollingHash(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), norm.as("nt"))
      .select(col("doc_id"),
        length(col("nt")).cast(LongType).as("n_chars"),
        // native byte-walk fold (ASCII corpus; spec-asserted vs the
        // per-codepoint oracle fold)
        graft.functions.TextExpressions.rollingHash31(col("nt")).as("rolling_fp"))
      .orderBy("doc_id")

  // -----------------------------------------------------------------
  // Cross-corpus duplicated-SPAN detection — the ExactSubstr grain
  // (Lee et al. 2021, "Deduplicating Training Data Makes Language
  // Models Better"): the dedup grain between whole-document
  // (Dedup.exact/minhash) and the CDC passage family ([[passageDedup]]).
  // Passages are NON-OVERLAPPING content-defined chunks, so a
  // duplicate offset inside a chunk is invisible to them; this family
  // slides an OVERLAPPING positional n-gram window, so any duplicated
  // token run of >= n tokens is caught at every offset.
  // -----------------------------------------------------------------

  /** Default duplicated-span gram width (tokens). Lee et al. scrub at
    * 50 BPE tokens; the synthetic corpus' documents are sentence-scale,
    * so the default window is the decontamination family's 8.
    */
  val SpanGramN: Int = 8

  /** Maximal cross-corpus duplicated token spans per document —
    * (doc_id, span_start, span_end, n_span_tokens, n_dup_grams), token
    * positions 1-based inclusive.
    *
    * SEMANTICS, stated honestly: a position p is *duplicated* iff the
    * n-gram starting at p occurs >= 2 times in the whole corpus
    * (across documents OR again inside the same document — exactly the
    * suffix-array criterion, which also counts self-repeats). A span
    * is a maximal interval covered by the UNION of [p, p+n-1] over
    * duplicated positions p — the "fraction of tokens inside
    * duplicated n-grams" coverage measure (RefinedWeb/Dolma). This
    * OVER-approximates the suffix-array guarantee: two duplicated
    * grams with DIFFERENT partners can chain into one reported span
    * that never occurs verbatim anywhere else (the spec pins a
    * constructed instance). Every token the suffix-array method would
    * scrub is inside some reported span (no under-report); the union
    * semantics is what the gram-hash approach can promise without
    * all-pairs verification, and is the measure production scrubbers
    * act on.
    *
    * Scale shape: the positional gram stream is token-scale and CANNOT
    * be array_distinct'd (positions are the payload) — it is eagerly
    * localCheckpoint'd once because it feeds both the duplicate-set
    * aggregate and the join probe (the [[decontaminateCore]]
    * three-consumer lesson, here two). The duplicate set is ONE
    * uniform-8-byte-key aggregate with map-side partials (a boilerplate
    * gram's million occurrences partial-combine per task), then a
    * LEFT_SEMI join filters positions; the island merge is a per-doc
    * window — document-bounded, never corpus-bounded. No all-pairs,
    * no per-gram state beyond the count.
    */
  def repeatedSpans(documents: DataFrame, n: Int = SpanGramN,
      minSpan: Int = SpanGramN): DataFrame =
    repeatedSpansCore(documents.withColumn("__fresh", lit(true)), n, minSpan)

  /** Incremental-admission duplicated spans — the [[Dedup.incremental]]
    * shape: a standing corpus plus an ARRIVING batch; gram duplication
    * counts span the UNION (an arriving copy of standing text is
    * duplicated even if the batch alone holds one occurrence), but
    * spans are reported only for batch documents — exactly the
    * one-shot [[repeatedSpans]] restricted to batch doc_ids, which is
    * what the oracle states literally and the spec asserts as frame
    * equality. Steady-state cost per ingestion tick: the batch's gram
    * scan plus one count-merge against the standing gram-frequency
    * aggregate — old spans are never recomputed.
    */
  def repeatedSpansIncremental(corpus: DataFrame, batch: DataFrame,
      n: Int = SpanGramN, minSpan: Int = SpanGramN): DataFrame =
    repeatedSpansCore(
      corpus.withColumn("__fresh", lit(false))
        .unionByName(batch.withColumn("__fresh", lit(true))),
      n, minSpan)

  /** The positional n-gram stream (doc_id, pos, g8), positions
    * 1-based — the compact per-document record the streaming twin
    * sinks (8-byte key + position, never the text).
    */
  def spanGramPositions(documents: DataFrame, n: Int = SpanGramN): DataFrame =
    documents
      .select(col("doc_id"), posexplode(gramKeys(n, distinct = false)).as(Seq("p0", "g8")))
      .select(col("doc_id"), (col("p0") + 1).cast(LongType).as("pos"), col("g8"))

  /** Gram occurrence counts (g8, n_occ) — the span family's carried
    * state: integer sums, so increments merge EXACTLY associatively
    * (the covariance-class contract).
    */
  def spanGramCounts(positions: DataFrame): DataFrame =
    positions.groupBy("g8").agg(count(lit(1)).as("n_occ"))

  /** [[spanGramCounts]] merge with a STATIONARY state side — restated
    * as a full-outer join on g8 so a g8-bucketed standing count table
    * scans pre-clustered with zero Exchange above the state scan;
    * only the O(batch) aggregate shuffles (the
    * [[mergeGramFirstIndexStationary]] discipline). Bit-identical to
    * recounting from scratch because integer sums are associative.
    */
  def mergeSpanGramCountsStationary(state: DataFrame,
      batch: DataFrame): DataFrame =
    state.join(batch.withColumnRenamed("n_occ", "batch_occ"),
        Seq("g8"), "full_outer")
      .select(col("g8"),
        (coalesce(col("n_occ"), lit(0L)) + coalesce(col("batch_occ"), lit(0L)))
          .as("n_occ"))

  /** The span-merge tail: filter `positions` to those whose gram is
    * duplicated under `counts` (n_occ >= 2), then merge covered
    * intervals [pos, pos+n-1] into maximal spans. Shared by the batch
    * core, the reconciled twin, and the streaming twin.
    */
  def spansAgainstCounts(positions: DataFrame, counts: DataFrame,
      n: Int = SpanGramN, minSpan: Int = SpanGramN): DataFrame = {
    val dup = counts.filter(col("n_occ") >= 2).select("g8")
    val dupPos = positions.join(dup, Seq("g8"), "left_semi")
      .select("doc_id", "pos")
    // gaps-and-islands over fixed-width intervals [pos, pos+n-1]: with
    // equal widths the running-max interval end is the previous row's,
    // so a new island starts exactly when pos - prev_pos > n (a gap in
    // coverage). Per-doc window — document-bounded.
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dupPos
      // two projections: a window function can't nest inside another
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) > n, 1L).otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(n - 1).cast(LongType)).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .withColumn("n_span_tokens", col("span_end") - col("span_start") + 1L)
      .filter(col("n_span_tokens") >= minSpan)
      .select("doc_id", "span_start", "span_end", "n_span_tokens", "n_dup_grams")
      .orderBy("doc_id", "span_start")
  }

  /** Positional-gram core: `documents` must carry `__fresh`; gram
    * duplication is counted over EVERY row, spans are emitted for
    * fresh rows only.
    */
  private def repeatedSpansCore(documents: DataFrame, n: Int,
      minSpan: Int): DataFrame = {
    // the positional stream feeds both the count and the probe side:
    // one eager checkpoint pays the gram scan once instead of twice
    val exploded = documents
      .select(col("doc_id"), col("__fresh"),
        posexplode(gramKeys(n, distinct = false)).as(Seq("p0", "g8")))
      .select(col("doc_id"), col("__fresh"),
        (col("p0") + 1).cast(LongType).as("pos"), col("g8"))
      .localCheckpoint(true)
    // duplicated grams: total occurrence count >= 2 (cross-doc or
    // self-repeat — the suffix-array criterion), one uniform-key agg.
    spansAgainstCounts(
      exploded.filter(col("__fresh")).select("doc_id", "pos", "g8"),
      spanGramCounts(exploded.select("doc_id", "pos", "g8")),
      n, minSpan)
  }

  /** ExactSubstr SCRUB: remove every token inside a [[repeatedSpans]]
    * span and reassemble the cleaned text — Lee et al.'s actual
    * intervention (they CUT the duplicated span, keeping both flanks;
    * unlike [[passageScrub]] there is no canonical-owner exemption,
    * because a span's "owner" is ill-defined under union semantics —
    * the honesty note on [[repeatedSpans]] applies). Token accounting
    * is exact: n_tokens = pre-scrub count, n_removed_tokens = tokens
    * inside spans, scrubbed_text = the kept tokens in original order
    * (normalized). A document with no spans passes through unchanged
    * (normalized), n_spans 0.
    *
    * Scale shape: the span table is duplication-sized — orders of
    * magnitude below corpus scale on a healthy corpus — so the join
    * back to documents is AQE-broadcastable; the rebuild is a pure
    * map stage over the doc's own token array (higher-order filter on
    * position membership, document-bounded spans array per row).
    */
  def repeatedSpanScrub(documents: DataFrame, n: Int = SpanGramN,
      minSpan: Int = SpanGramN): DataFrame = {
    val spans = repeatedSpans(documents, n, minSpan)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(
        struct(col("span_start").as("s"), col("span_end").as("e")))).as("spans"))
    val keep = (i: Column) => !coalesce(
      exists(col("spans"), sp => i >= sp("s") && i <= sp("e")), lit(false))
    documents.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), toks.as("tk"), col("spans"))
      .select(col("doc_id"), col("tk"), col("spans"),
        filter(graft.functions.ColUtil.posRange(size(col("tk"))), keep).as("kept"))
      .select(col("doc_id"),
        size(col("tk")).cast(LongType).as("n_tokens"),
        coalesce(size(col("spans")), lit(0)).cast(LongType).as("n_spans"),
        (size(col("tk")) - size(col("kept"))).cast(LongType).as("n_removed_tokens"),
        array_join(transform(col("kept"), i => element_at(col("tk"), i)), " ")
          .as("scrubbed_text"))
      .orderBy("doc_id")
  }

  /** Per-source duplicated-token exposure — the corpus-owner's report
    * over [[repeatedSpans]]: which ingestion sources carry how much
    * span-duplicated text. dup_token_share is exact rational
    * n_dup_tokens / n_tokens per source. Rides the duplication-sized
    * span table joined back to the corpus by doc_id (AQE broadcast),
    * then one small per-source rollup.
    */
  def repeatedSpansSummary(documents: DataFrame, n: Int = SpanGramN,
      minSpan: Int = SpanGramN): DataFrame = {
    val perDoc = repeatedSpans(documents, n, minSpan)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("n_span_tokens")).as("n_dup_tokens"))
    documents
      .select(col("doc_id"), col("source"), size(toks).cast(LongType).as("n_toks"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_spans").isNotNull, 1L).otherwise(0L)).as("n_docs_with_spans"),
        sum(col("n_toks")).as("n_tokens"),
        coalesce(sum(col("n_dup_tokens")), lit(0L)).as("n_dup_tokens"))
      .withColumn("dup_token_share",
        col("n_dup_tokens").cast("double") / col("n_tokens"))
      .orderBy("source")
  }
}
