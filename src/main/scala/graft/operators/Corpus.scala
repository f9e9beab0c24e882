package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Corpus-construction operators for the training-data pipeline:
  * deterministic weighted source mixing, stratified sampling,
  * context-window pack planning, PII scrubbing, and tf-idf keyword
  * extraction. (Beyond the reference's surface — the reference stops
  * at warehouse ETL; these are the stages a 100 TB pretraining-corpus
  * build adds on top. Ref touchpoint: core/batch_processor.py's
  * per-batch filtering is the closest analogue.)
  *
  * All sampling decisions are hash-threshold based (md5-derived keys),
  * never `rand()`: reproducible across runs, engines, and cluster
  * sizes, and re-running a 100 TB job samples the SAME rows — the
  * property that makes corpus builds auditable. Everything except the
  * pack/tf-idf aggregations is a pure per-row map stage (no shuffle).
  */
object Corpus {

  /** Uniform [0,1) sample key from md5(salt || doc_id): top 28 bits of
    * the digest over 2^28. Exact dyadic rational — the double is
    * bit-identical in any IEEE engine, so threshold comparisons agree
    * everywhere (same trick as Similarity.lshPlaneCoefs).
    */
  def sampleKey(salt: String, id: Column): Column =
    conv(substring(md5(concat(lit(salt), id.cast("string")).cast("binary")), 1, 7),
      16, 10).cast(LongType).cast("double") / lit(268435456.0)

  /** Per-source mixing weight: sources src0..src4 are "high-trust"
    * (keep 90%), src5..src9 mid (50%), src10..src14 low (25%), the
    * rest tail (10%) — the shape of a real corpus-mixing config.
    */
  def sourceWeight(source: Column): Column = {
    val num = substring(source, 4, 10).cast("int")
    when(num < 5, 0.9).when(num < 10, 0.5).when(num < 15, 0.25).otherwise(0.1)
  }

  /** Deterministic weighted corpus sample: keep a doc iff its hash key
    * falls under its source's mixing weight. Stateless per-row filter —
    * at 100 TB this is a map-only stage with full predicate pushdown
    * upstream of it; no shuffle, no coordination, and adding a source
    * only touches the weight expression.
    */
  def sample(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("source"), col("lang"),
        sourceWeight(col("source")).as("weight"),
        sampleKey("sample:", col("doc_id")).as("sample_key"))
      .filter(col("sample_key") < col("weight"))
      .orderBy("doc_id")

  /** Mixing report: per source, corpus share before/after sampling and
    * achieved vs target rate. One small groupBy on the source key.
    */
  def mixSummary(documents: DataFrame): DataFrame =
    documents.select(col("source"),
        substring(col("source"), 4, 10).cast(LongType).as("src_num"),
        sourceWeight(col("source")).as("weight"),
        when(sampleKey("sample:", col("doc_id")) < sourceWeight(col("source")), 1L)
          .otherwise(0L).as("kept"))
      .groupBy("source", "src_num", "weight")
      .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"))
      .withColumn("achieved_rate", col("n_kept").cast("double") / col("n_docs"))
      .select("src_num", "source", "weight", "n_docs", "n_kept", "achieved_rate")
      .orderBy("src_num")

  /** Stratified sample: the `perStratum` docs with the smallest hash
    * keys per language — equal representation regardless of stratum
    * skew. The rank window partitions on the stratum key, so state per
    * partition is one counter; at 100 TB strata are processed in
    * parallel and only top-k per stratum survive the shuffle (the
    * window's sort is per-stratum, not global).
    */
  def stratifiedSample(documents: DataFrame, perStratum: Int = 20): DataFrame = {
    val key = sampleKey("strat:", col("doc_id"))
    val w = Window.partitionBy("lang").orderBy(col("sample_key"), col("doc_id"))
    documents.select(col("doc_id"), col("lang"), key.as("sample_key"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= perStratum)
      .select("lang", "rn", "doc_id", "sample_key")
      .orderBy("lang", "rn")
  }

  private def wsTokens: Column =
    size(split(trim(col("text")), "\\s+")).cast(LongType)

  /** Deterministic per-doc shuffle key: md5(seed ":" doc_id) as the
    * 32-hex-char digest string. Lowercase fixed-length hex compares
    * identically as a string in any engine, so ORDER BY on it is
    * reproducible everywhere (and `rand()`-free — the corpus-audit
    * property every sampler here already has).
    */
  private def shuffleKey(seed: String): Column =
    md5(concat(lit(seed + ":"), col("doc_id").cast("string")).cast("binary"))

  /** Top-28-bits integer of a shuffle key — monotone in the key's
    * string order (hex prefix = numeric high bits), which is what lets
    * a bucket derived from it split a global ORDER BY key into
    * parallel, order-preserving ranges.
    */
  private def keyHi28(key: Column): Column =
    conv(substring(key, 1, 7), 16, 10).cast(LongType)

  private def parallelBuckets(df: DataFrame): Long =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt * 8L

  /** Deterministic global training-order shuffle: every doc gets a
    * dense ordinal `shuffle_pos` in 0..N-1, ordered by its md5 shuffle
    * key — the "global shuffle" step a pretraining data loader needs
    * (epoch order must be random-looking but REPRODUCIBLE, so a
    * restarted job or a re-run audit sees the same order; re-keying by
    * seed gives a fresh epoch permutation).
    *
    * Never a global window: the ordinal is assigned by the same
    * two-phase scan as [[scanTokensBefore]], except the bucket ranges
    * come from the KEY's top bits instead of doc_id ranges — md5 keys
    * are uniform, so each of the B ≈ 8×parallelism buckets holds
    * ~N/B docs regardless of corpus skew (better-behaved than the
    * pack scan, which inherits doc_id clustering). Within a bucket a
    * row_number window runs per range-task; bucket offsets are a
    * B-row metadata aggregate (its single-partition cumulative window
    * is over B rows, not docs) that broadcasts back.
    */
  def shufflePlan(documents: DataFrame, seed: String = "42"): DataFrame = {
    val buckets = parallelBuckets(documents)
    val keyed = documents
      .select(col("doc_id"), col("lang"), shuffleKey(seed).as("skey"))
      // exact: hi28 * B < 2^28 * B ≪ 2^53, so the double product is
      // integer-exact and floor is the integer division
      .withColumn("bucket",
        floor(keyHi28(col("skey")).cast("double") * buckets / 268435456.0)
          .cast(LongType))
    val wIn = Window.partitionBy("bucket").orderBy("skey", "doc_id")
    val within = keyed.withColumn("rn", row_number().over(wIn).cast(LongType))
    val wOff = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = within.groupBy("bucket")
      .agg(count(lit(1)).as("bucket_n"))
      .withColumn("bucket_offset",
        coalesce(sum(col("bucket_n")).over(wOff), lit(0L)))
      .select("bucket", "bucket_offset")
    within.join(broadcast(offsets), Seq("bucket"))
      .withColumn("shuffle_pos", col("bucket_offset") + col("rn") - 1L)
      .select("doc_id", "lang", "shuffle_pos")
      .orderBy("doc_id")
  }

  /** Deterministic stride-scheduled interleave — the ORDER a training
    * dataloader actually emits when mixing sources at configured
    * rates ([[sourceWeight]]): within each source docs shuffle by md5
    * key, and source s's k-th doc is emitted at virtual time
    * `vt = k / weight(s)` (stride scheduling — a weight-0.9 source
    * emits 9× as often as a weight-0.1 one, evenly spread rather than
    * block-concatenated). Output is the dense global emit ordinal.
    *
    * Two chained two-phase ordinals, no global window anywhere:
    * per-source ranks split on the key's top bits (per-(source,bucket)
    * windows + per-source B-row offset cumulatives), then the global
    * (vt, source, doc_id) order splits on the OBSERVED vt span (the
    * scanTokensBefore bucketing — any monotone map works, so the
    * double ratio is safe); each source's vt sequence is a linear
    * ramp, so their union spreads ~uniformly over the span and the
    * range buckets stay balanced. vt itself is one exact double
    * division of exact integers — bit-identical across engines.
    */
  def interleave(documents: DataFrame, seed: String = "interleave"): DataFrame = {
    val buckets = parallelBuckets(documents)
    val keyed = documents.select(col("doc_id"), col("source"),
        sourceWeight(col("source")).as("weight"),
        shuffleKey(seed).as("skey"))
      .withColumn("bucket",
        floor(keyHi28(col("skey")).cast("double") * buckets / 268435456.0)
          .cast(LongType))
    val wIn = Window.partitionBy("source", "bucket").orderBy("skey", "doc_id")
    val within = keyed.withColumn("rn", row_number().over(wIn).cast(LongType))
    val wOff = Window.partitionBy("source").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = within.groupBy("source", "bucket").agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(wOff), lit(0L)))
      .select("source", "bucket", "off")
    // (source, bucket) keys match the window partitioning — planner
    // broadcasts when small, reuses the exchange otherwise
    val ranked = within.join(offs, Seq("source", "bucket"))
      .withColumn("src_rank", col("off") + col("rn"))
      .withColumn("vt", col("src_rank").cast("double") / col("weight"))
    // the vt span NEVER needs the ranked pipeline: per source the vt
    // values are 1/w .. n_s/w, so min/max derive from the per-source
    // COUNTS with the identical divisions (bit-equal bounds; Spark
    // would otherwise re-plan the whole first ordinal under this
    // scalar — shared subtrees are not deduped)
    val span = keyed.groupBy("source", "weight").agg(count(lit(1)).as("n_src"))
      .agg(coalesce(min(lit(1.0) / col("weight")), lit(0.0)).as("vt_min"),
        coalesce(max(col("n_src").cast("double") / col("weight")), lit(0.0))
          .as("vt_max"))
    val b2 = ranked.crossJoin(broadcast(span)) // 1-row scalar
      .withColumn("gbucket", when(col("vt_max") === col("vt_min"), lit(0L))
        .otherwise(least(
          floor((col("vt") - col("vt_min")) * buckets /
            (col("vt_max") - col("vt_min"))).cast(LongType),
          lit(buckets - 1))))
      .drop("vt_min", "vt_max")
    val wIn2 = Window.partitionBy("gbucket").orderBy("vt", "source", "doc_id")
    val within2 = b2.withColumn("rn2", row_number().over(wIn2).cast(LongType))
    val wOff2 = Window.orderBy("gbucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs2 = within2.groupBy("gbucket").agg(count(lit(1)).as("bn2"))
      .withColumn("off2", coalesce(sum(col("bn2")).over(wOff2), lit(0L)))
      .select("gbucket", "off2")
    within2.join(broadcast(offs2), Seq("gbucket"))
      .withColumn("interleave_pos", col("off2") + col("rn2") - 1L)
      .select("doc_id", "source", "src_rank", "vt", "interleave_pos")
      .orderBy("doc_id")
  }

  /** Short-to-long curriculum order: docs ranked globally by
    * (n_tokens asc, shuffle key, doc_id) — ascending difficulty with a
    * deterministic shuffle among equal lengths — then cut into
    * `stages` equal-count stages (`stage = pos·S div N`). Length-
    * sorted curricula (and their cousin, length-BUCKETED batching for
    * padding efficiency) are standard pretraining schedules; the
    * output is the (doc → stage, position) plan a loader consumes.
    *
    * The global ordinal never builds a global window. It decomposes
    * exactly, two levels:
    *   - `base_offset(v)` = #docs with n_tokens < v — a cumulative over
    *     the n_tokens HISTOGRAM (distinct lengths = metadata scale);
    *   - within a length group, the md5 key splits the group into B
    *     uniform sub-ranges (`sub` from the key's top bits — monotone
    *     in key order): `sub_offset` cumulates the (v, sub) counts per
    *     v (≤B rows per partition), and a row_number window runs per
    *     (v, sub) — so even a degenerate corpus where every doc has
    *     the SAME length splits into B parallel tasks instead of one.
    * All three adds are exact Long arithmetic — bit-identical to the
    * single-window formulation.
    */
  def curriculum(documents: DataFrame, stages: Int = 4,
                 seed: String = "42"): DataFrame = {
    val buckets = parallelBuckets(documents)
    val keyed = documents
      .select(col("doc_id"), col("lang"), wsTokens.as("n_tokens"),
        shuffleKey(seed).as("skey"))
      .withColumn("sub",
        floor(keyHi28(col("skey")).cast("double") * buckets / 268435456.0)
          .cast(LongType))
    val wIn = Window.partitionBy("n_tokens", "sub").orderBy("skey", "doc_id")
    val within = keyed.withColumn("rn", row_number().over(wIn).cast(LongType))
    val subCounts = within.groupBy("n_tokens", "sub")
      .agg(count(lit(1)).as("sub_n"))
    val wSub = Window.partitionBy("n_tokens").orderBy("sub")
      .rowsBetween(Window.unboundedPreceding, -1)
    val subOff = subCounts
      .withColumn("sub_offset", coalesce(sum(col("sub_n")).over(wSub), lit(0L)))
      .select("n_tokens", "sub", "sub_offset")
    val wGrp = Window.orderBy("n_tokens")
      .rowsBetween(Window.unboundedPreceding, -1)
    val grpOff = subCounts.groupBy("n_tokens")
      .agg(sum(col("sub_n")).as("grp_n"))
      .withColumn("base_offset", coalesce(sum(col("grp_n")).over(wGrp), lit(0L)))
      .select("n_tokens", "base_offset")
    val nDocs = documents.select(count(lit(1)).as("n_docs"))
    // subOff is (distinct-lengths × B) rows — small, but unbounded by
    // parallelism, so no broadcast hint: its (n_tokens, sub) keys match
    // the window/groupBy partitioning, so the planner either broadcasts
    // it (AQE, when it IS small) or reuses the exchange; grpOff is
    // distinct-lengths rows — genuinely metadata-scale — and broadcasts.
    within
      .join(subOff, Seq("n_tokens", "sub"))
      .join(broadcast(grpOff), Seq("n_tokens"))
      .crossJoin(broadcast(nDocs)) // 1-row scalar
      .withColumn("curriculum_pos",
        col("base_offset") + col("sub_offset") + col("rn") - 1L)
      .withColumn("stage", expr(s"(curriculum_pos * $stages) div n_docs"))
      .select("doc_id", "lang", "n_tokens", "curriculum_pos", "stage")
      .orderBy("doc_id")
  }

  /** Distributed prefix scan: `tokens_before` = Σ n_tokens over all
    * docs of the same language with a smaller doc_id — WITHOUT ever
    * putting a whole language into one window partition.
    *
    * A plain `Window.partitionBy("lang").orderBy("doc_id")` hashes
    * every doc of a language to ONE task; at corpus scale the head
    * language is most of the data, so that task does a sequential
    * running sum over billions of rows and the job never finishes
    * regardless of cluster size. Instead, the classic two-phase scan:
    *   1. bucket doc_ids into ranges (`floor(doc_id·B / span)` — order-
    *      preserving within a language, B ≈ 8× the shuffle parallelism
    *      so every core gets work);
    *   2. per-(lang, bucket) token totals — a tiny map-side-combined
    *      aggregate of B·#langs rows;
    *   3. cumulative bucket offsets via a window over THAT aggregate
    *      (per-lang partitions of ≤ B rows — metadata-scale, the point);
    *   4. the per-doc running sum runs per (lang, bucket) — each task
    *      scans only its range — plus the bucket's offset.
    * Long addition is associative, so the result is bit-identical to
    * the single-partition formulation (the pack oracles don't change).
    * The (lang, bucket) join and window share one hash partitioning,
    * so docs shuffle once, same as the naive form.
    *
    * Input must carry (doc_id, lang, n_tokens); extra columns ride
    * through untouched.
    */
  private def scanTokensBefore(docs: DataFrame): DataFrame = {
    val buckets =
      docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt * 8
    // bucket on the OBSERVED id range (min subtracted), not [0, max]: a
    // later corpus increment whose ids live in [1e9, 1e9+1e4] would
    // otherwise collapse into the top bucket and re-create the single-
    // task scan this operator exists to avoid. The ratio is computed in
    // double — (id-min) can be ~1e18 for sparse id schemes and id×B
    // would overflow Long — which is safe because any deterministic
    // NONDECREASING id→bucket map yields identical results (rounding
    // preserves monotonicity; the floor/least guard pins the range).
    val span = docs.select(col("doc_id"))
      .agg(coalesce(min(col("doc_id")), lit(0L)).as("id_min"),
        (coalesce(max(col("doc_id")), lit(0L)) -
          coalesce(min(col("doc_id")), lit(0L)) + 1L).as("id_span"))
    val bucketed = docs.crossJoin(broadcast(span)) // 1-row scalar
      .withColumn("bucket", least(
        floor((col("doc_id") - col("id_min")).cast("double") * buckets /
          col("id_span").cast("double")).cast(LongType),
        lit(buckets - 1L)))
      .drop("id_min", "id_span")
    val ww = Window.partitionBy("lang", "bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withWin = bucketed.withColumn("tokens_within",
      coalesce(sum(col("n_tokens")).over(ww), lit(0L)))
    // bucket totals come OUT OF the window output (total = running sum
    // + last row's own tokens, i.e. max over the partition) instead of
    // a separate aggregate over the raw docs: both consumers then sit
    // above the same (lang, bucket) exchange + window subtree, which
    // ReuseExchange dedupes when the projections line up — the
    // expensive upstream map work (tokenization) runs once, and the
    // offsets branch reads the shuffle files a second time instead of
    // re-scanning the corpus (measured ~2× on the 400× point).
    val wb = Window.partitionBy("lang").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withWin.groupBy("lang", "bucket")
      .agg(max(col("tokens_within") + col("n_tokens")).as("bucket_tokens"))
      .withColumn("bucket_offset",
        coalesce(sum(col("bucket_tokens")).over(wb), lit(0L)))
      .select("lang", "bucket", "bucket_offset")
    // offsets joined AFTER the window (row order is irrelevant once the
    // running sum is computed); the offsets side is bucket-count sized,
    // so it broadcasts at default thresholds and degrades to a
    // (lang, bucket)-aligned shuffle join the planner can reuse
    withWin.join(offsets, Seq("lang", "bucket"))
      .withColumn("tokens_before", col("bucket_offset") + col("tokens_within"))
      .drop("bucket", "bucket_offset", "tokens_within")
  }

  private def packProject(scanned: DataFrame, capacity: Int): DataFrame =
    scanned.select(col("doc_id"), col("lang"), col("n_tokens"),
      (col("tokens_before") / capacity).cast(LongType).as("pack_id"),
      (col("tokens_before") % capacity).as("pack_offset"))
      .orderBy("doc_id")

  /** Context-window pack plan: docs stream in doc_id order within each
    * language and fill `capacity`-token packs greedily; a doc belongs
    * to the pack where it STARTS (docs may straddle pack boundaries —
    * the standard concat-then-chunk pretraining layout, where pack
    * boundaries cut sequences, not documents into bins).
    * `pack_id = floor(tokens_before / capacity)`, with the prefix sum
    * computed by the two-phase [[scanTokensBefore]] — integer-exact and
    * parallel both across AND within languages.
    */
  def packPlan(documents: DataFrame, capacity: Int = 2048): DataFrame =
    packProject(scanTokensBefore(
      documents.select(col("doc_id"), col("lang"), wsTokens.as("n_tokens"))), capacity)

  /** [[packPlan]] under an EXPLICIT per-doc token-count table
    * (doc_id, n_tokens) — the composition a real pretraining run
    * executes once a tokenizer is trained: pack geometry driven by
    * the TRAINED BPE cost ([[graft.operators.Bpe.tokenCounts]])
    * instead of the whitespace proxy the planning default uses
    * (whitespace undercounts exactly the rare-word docs BPE splits
    * hardest, so proxy-planned packs overflow at materialization).
    * Same two-phase scan, same geometry contract; only the count
    * source changes — with the whitespace counts passed explicitly
    * this is bit-identical to [[packPlan]] (spec-asserted). Docs
    * absent from `counts` (e.g. empty after tokenization) are
    * absent from the plan, matching the tokenizer's own view.
    */
  def packPlanWithCounts(documents: DataFrame, counts: DataFrame,
                         capacity: Int = 2048): DataFrame =
    packProject(scanTokensBefore(
      documents.select(col("doc_id"), col("lang"))
        .join(counts.select(col("doc_id"), col("n_tokens")), Seq("doc_id"))),
      capacity)

  /** Shuffle-then-pack — the composition a production pretraining run
    * actually executes: docs take their [[shufflePlan]] epoch order
    * first, THEN fill context windows greedily in that order (packing
    * in raw doc_id order would bake ingestion order into every epoch).
    * The shuffle ordinal simply becomes the ordering id of the same
    * two-phase [[scanTokensBefore]] — dense uniform 0..N-1 ordinals
    * are the best-case input for its observed-range bucketing — and
    * the original doc_id rides through the scan untouched. One linear
    * pipeline: ordinal join → token scan → pack projection; no
    * diamond, so nothing needs a checkpoint.
    */
  def packPlanShuffled(documents: DataFrame, capacity: Int = 2048,
                       seed: String = "42"): DataFrame = {
    val order = shufflePlan(documents, seed)
      .select(col("doc_id"), col("shuffle_pos"))
    val base = documents.join(order, "doc_id")
      .select(col("doc_id").as("orig_doc"), col("shuffle_pos").as("doc_id"),
        col("lang"), wsTokens.as("n_tokens"))
    scanTokensBefore(base)
      .select(col("orig_doc").as("doc_id"), col("lang"), col("n_tokens"),
        col("doc_id").as("shuffle_pos"),
        (col("tokens_before") / capacity).cast(LongType).as("pack_id"),
        (col("tokens_before") % capacity).as("pack_offset"))
      .orderBy("doc_id")
  }

  /** [[packPlan]] continued from per-language running totals — the
    * steady-state shape: `langOffsets` rows (lang, base_tokens) carry
    * the token mass already packed by earlier batches, and this batch's
    * docs are planned starting there. Batch-internal geometry is the
    * same distributed scan; the carried state is one counter per
    * language (broadcast). `packPlan(docs) ≡ packPlanIncremental` over
    * any doc_id-ordered split of the corpus (spec-asserted).
    */
  def packPlanIncremental(documents: DataFrame, langOffsets: DataFrame,
                          capacity: Int = 2048): DataFrame =
    packProject(
      scanTokensBefore(
        documents.select(col("doc_id"), col("lang"), wsTokens.as("n_tokens")))
        .join(broadcast(langOffsets.select(col("lang"), col("base_tokens"))),
          Seq("lang"), "left")
        .withColumn("tokens_before",
          col("tokens_before") + coalesce(col("base_tokens"), lit(0L))),
      capacity)

  /** The executable packing manifest: for every document, the exact
    * (pack_id, span) pieces its token stream contributes — straddling
    * docs split at pack boundaries, so the spans of one pack tile
    * [pack·capacity, (pack+1)·capacity) exactly (spec-asserted: every
    * full pack's span lengths sum to capacity, every doc's spans sum
    * to its token count). This is what a writer job consumes to emit
    * fixed-length training sequences. One narrow explode over the
    * per-doc pack range (a doc spans ≤ n_tokens/capacity + 1 packs);
    * geometry is the same two-phase [[scanTokensBefore]] scan as
    * [[packPlan]].
    */
  def packManifest(documents: DataFrame, capacity: Int = 2048): DataFrame = {
    scanTokensBefore(
      documents.select(col("doc_id"), col("lang"), wsTokens.as("n_tokens")))
      .withColumnRenamed("tokens_before", "start_tok")
      .withColumn("end_tok", col("start_tok") + col("n_tokens")) // exclusive
      .withColumn("pack_id", explode(sequence(
        (col("start_tok") / capacity).cast(LongType),
        ((col("end_tok") - 1) / capacity).cast(LongType))))
      .select(col("lang"), col("pack_id"), col("doc_id"),
        greatest(col("start_tok"), col("pack_id") * capacity).as("span_start"),
        least(col("end_tok"), (col("pack_id") + 1) * capacity).as("span_end"))
      .withColumn("span_tokens", col("span_end") - col("span_start"))
      .orderBy("lang", "pack_id", "doc_id")
  }

  /** The sequence-writer job itself: materialize every pack's token
    * stream by slicing each contributing document's token array to its
    * [[packManifest]] span and concatenating the pieces in doc_id
    * order. Emits one row per (lang, pack) with the stream's md5 —
    * the executable proof that the plan, manifest and writer agree
    * (spec asserts every full pack carries exactly `capacity` tokens
    * and re-splits to them).
    *
    * Scale shape: the explode fans a doc out to ≤ n_tokens/capacity + 1
    * spans, and the groupBy key (lang, pack_id) is uniform with every
    * group bounded by `capacity` tokens — the collect_list can never
    * exceed one context window, so no group outgrows an executor at
    * any corpus size.
    */
  def packSequences(documents: DataFrame, capacity: Int = 2048): DataFrame = {
    val spans = scanTokensBefore(documents
        .select(col("doc_id"), col("lang"),
          split(trim(col("text")), "\\s+").as("tokens"))
        .withColumn("n_tokens", size(col("tokens")).cast(LongType)))
      .withColumnRenamed("tokens_before", "start_tok")
      .withColumn("end_tok", col("start_tok") + col("n_tokens"))
      .withColumn("pack_id", explode(sequence(
        (col("start_tok") / capacity).cast(LongType),
        ((col("end_tok") - 1) / capacity).cast(LongType))))
      .withColumn("span_start", greatest(col("start_tok"), col("pack_id") * capacity))
      .withColumn("span_end", least(col("end_tok"), (col("pack_id") + 1) * capacity))
      .withColumn("piece", array_join(slice(col("tokens"),
        (col("span_start") - col("start_tok") + 1).cast("int"),
        (col("span_end") - col("span_start")).cast("int")), " "))
    spans.groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("span_end") - col("span_start")).as("n_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("piece")))),
          x => x.getField("piece")), " ").cast("binary")).as("pack_md5"))
      .orderBy("lang", "pack_id")
  }

  /** Pack-level rollup of [[packPlan]]: docs starting in each pack and
    * their token mass (≥ capacity utilisation since tails straddle).
    */
  def packSummary(documents: DataFrame, capacity: Int = 2048): DataFrame =
    packPlan(documents, capacity)
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .withColumn("fill_ratio", col("sum_tokens").cast("double") / capacity)
      .orderBy("lang", "pack_id")

  /** PII patterns (lower-case text): kept to regex constructs with
    * identical semantics in Java regex and RE2 (char classes, counted
    * and greedy quantifiers only — no lookaround, no backrefs).
    */
  val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
  val UrlPattern = "https?://[a-z0-9./_%&=?#-]+"
  val PhonePattern = "\\+[0-9][0-9() -]{6,14}[0-9]"

  /** PII scrub: count and redact emails/URLs/phone numbers per doc.
    * URL → EMAIL → PHONE order (a URL may embed an @ userinfo part; the
    * URL placeholder must win). Pure per-row map stage. The synthetic
    * corpus contains no PII, so the oracle run checks engine parity of
    * the plumbing; CorpusSpec plants real PII strings and asserts each
    * redaction exactly.
    */
  def piiScrub(documents: DataFrame): DataFrame = {
    val nt = lower(trim(col("text")))
    val redacted = regexp_replace(regexp_replace(regexp_replace(nt,
      UrlPattern, "<URL>"), EmailPattern, "<EMAIL>"), PhonePattern, "<PHONE>")
    documents.select(
        col("doc_id"),
        size(regexp_extract_all(nt, lit(UrlPattern), lit(0))).cast(LongType).as("n_urls"),
        size(regexp_extract_all(nt, lit(EmailPattern), lit(0))).cast(LongType).as("n_emails"),
        size(regexp_extract_all(nt, lit(PhonePattern), lit(0))).cast(LongType).as("n_phones"),
        length(redacted).cast(LongType).as("n_chars_redacted"),
        md5(redacted.cast("binary")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** End-to-end corpus-build manifest: per language, how many docs
    * survive each stage — quality filter ([[TextOps.textQuality]]),
    * near-dup canonicalisation ([[Dedup.clusters]]), weighted source
    * mixing ([[sample]]) — and the token mass before/after. The single
    * report a data team reads before shipping a corpus; every stage is
    * the SAME operator the standalone queries run (one definition per
    * stage, composed). Each side is doc_id-keyed, so the joins shuffle
    * on the uniform id and the rollup groups on the tiny lang key.
    */
  def report(documents: DataFrame): DataFrame =
    report(documents, Dedup.clusters(documents))

  /** [[report]] against a pre-computed cluster assignment (the
    * materialize-once production shape, like Dedup.prune's overload).
    */
  def report(documents: DataFrame, clustered: DataFrame): DataFrame = {
    // The quality stage is checkpointed BEFORE the narrowing select
    // (r17 — the corpus_report cpu adjudication): projecting straight
    // to (doc_id, keep) lets CollapseProject inline the whole signal
    // tree into ONE keep expression that re-evaluates
    // split(lower(trim(text))) five times, and that collapsed
    // projection then runs on the join's build side where it
    // intermittently drops out of whole-stage codegen — the stage
    // census showed a bimodal 7–10 cpu-s broadcast-build stage (vs
    // 0.8 cpu-s for the standalone text_quality plan). Materializing
    // the FULL textQuality frame first runs the standalone-shaped
    // plan (per-signal columns, one split each, codegen'd), and the
    // narrow select becomes a 2-column checkpoint scan. Checkpointing
    // AFTER the select does NOT fix it — the collapse happens first
    // and the checkpoint job pays the same mega-expression (measured:
    // 6.1 s / 19.2 cpu-s vs 5.2 / 14.4 unfixed, vs ~3.6 with this
    // ordering).
    val q = TextOps.textQuality(documents).localCheckpoint(true)
      .select(col("doc_id"), col("keep"))
    val c = clustered.select(col("doc_id"), col("is_canonical"))
    val s = sample(documents).select(col("doc_id"), lit(true).as("sampled"))
    val fin = col("keep") && col("is_canonical") && col("sampled")
    documents.select(col("doc_id"), col("lang"), wsTokens.as("n_tokens"))
      .join(q, Seq("doc_id")).join(c, Seq("doc_id"))
      .join(s, Seq("doc_id"), "left")
      .withColumn("sampled", coalesce(col("sampled"), lit(false)))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("is_canonical"), 1L).otherwise(0L)).as("n_canonical"),
        sum(when(fin, 1L).otherwise(0L)).as("n_final"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(when(fin, col("n_tokens")).otherwise(0L)).as("final_tokens"))
      .orderBy("lang")
  }

  /** Temperature-balanced language sampling (the multilingual-corpus
    * p_l ∝ share^α rebalance at α = 1/2): each language keeps
    * sqrt(n_min / n_l) of its docs, so the rarest language keeps
    * everything and head languages are downsampled toward balance.
    * α = 1/2 on purpose — sqrt is correctly rounded in every IEEE
    * engine, so the rate (and thus every threshold decision) is
    * bit-identical across engines, where pow(x, 0.7) need not be.
    * Shuffle shape: one tiny per-language count, broadcast back; the
    * keep decision stays a per-row map stage.
    */
  def temperatureRates(documents: DataFrame): DataFrame = {
    val counts = documents.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val nMin = counts.agg(min(col("n_lang")).as("n_min"))
    counts.crossJoin(broadcast(nMin)) // 1-row scalar
      .withColumn("rate", sqrt(col("n_min").cast("double") / col("n_lang")))
      .select("lang", "n_lang", "rate")
  }

  /** Per-doc survivors of the temperature rebalance. */
  def temperatureSample(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("lang"),
        sampleKey("temp:", col("doc_id")).as("sample_key"))
      .join(broadcast(temperatureRates(documents).select("lang", "rate")), Seq("lang"))
      .filter(col("sample_key") < col("rate"))
      .select("doc_id", "lang", "rate", "sample_key")
      .orderBy("doc_id")

  /** Per-language report of the rebalance: size, rate, survivors. */
  def temperatureSummary(documents: DataFrame): DataFrame =
    documents.select(col("lang"), col("doc_id"))
      .join(broadcast(temperatureRates(documents)), Seq("lang"))
      .withColumn("kept",
        when(sampleKey("temp:", col("doc_id")) < col("rate"), 1L).otherwise(0L))
      .groupBy("lang", "n_lang", "rate")
      .agg(sum(col("kept")).as("n_kept"))
      .withColumn("achieved_rate", col("n_kept").cast("double") / col("n_lang"))
      .select("lang", "n_lang", "rate", "n_kept", "achieved_rate")
      .orderBy("lang")

  /** Token-budget-constrained data selection — the "fill a training
    * budget with the best data" step that follows scoring: per
    * language, keep documents from the highest quality score downward
    * until adding the next score BUCKET would overshoot
    * `budgetTokens`. The decision grain is the (lang, score) bucket,
    * not the document, which is what makes the operator 100 TB-shaped:
    * like [[graft.operators.TextOps.qualityGate]] it runs NO per-doc
    * window — scores quantize to integer micro-units, per-bucket token
    * sums aggregate with map-side partials into a histogram of at most
    * 1e6+1 rows per language, the descending cumulative runs over THAT
    * metadata-scale table, and the resulting per-lang threshold
    * broadcasts back for a map-side keep test. Bucket-grain greedy
    * also keeps the rule pure integer logic (kept iff score_micro ≥
    * smallest score whose cumulative-from-top token sum fits the
    * budget), so the oracle reproduces it exactly — a doc-grain greedy
    * would need a per-doc tiebreak window over the boundary bucket.
    * A language whose TOP bucket alone overshoots keeps nothing
    * (threshold null → kept = false).
    */
  def selectBudget(documents: DataFrame, budgetTokens: Long = 2000L): DataFrame = {
    // `scored` feeds the histogram AND the selection join — the same
    // deliberate double-scan as TextOps.qualityGate (measured there:
    // the whitespace split is cheaper than a checkpoint round trip);
    // the streaming twin checkpoints its batch scores because they
    // feed the sink too
    val scored = graft.operators.TextOps.qualityScores(documents)
    selectAgainstThresholds(scored,
      budgetThresholds(budgetHistogram(scored), budgetTokens))
      .orderBy("doc_id")
  }

  /** (lang, score_micro) → token-sum histogram — ASSOCIATIVE state
    * like the gate's count histogram: two increments' histograms merge
    * by summing, which is what lets a steady-state run carry it across
    * batches and re-select against the merged state.
    */
  def budgetHistogram(scored: DataFrame): DataFrame =
    scored.groupBy("lang", "score_micro")
      .agg(sum(col("n_tokens")).as("bucket_tokens"))

  def mergeBudgetHistograms(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("lang", "score_micro")
      .agg(sum(col("bucket_tokens")).as("bucket_tokens"))

  /** Per-language admission threshold from a token histogram (the
    * metadata-scale descending cumulative — never per-doc). A language
    * whose top bucket alone overshoots has no row here.
    */
  def budgetThresholds(hist: DataFrame, budgetTokens: Long): DataFrame = {
    val wDesc = Window.partitionBy("lang")
      .orderBy(col("score_micro").desc)
    hist
      .withColumn("cum_tokens", sum(col("bucket_tokens")).over(wDesc))
      .filter(col("cum_tokens") <= budgetTokens)
      .groupBy("lang").agg(min(col("score_micro")).as("threshold_micro"))
  }

  def selectAgainstThresholds(scored: DataFrame, thresholds: DataFrame): DataFrame =
    scored.join(broadcast(thresholds), Seq("lang"), "left")
      .withColumn("kept",
        col("threshold_micro").isNotNull &&
          col("score_micro") >= col("threshold_micro"))
      .select("doc_id", "lang", "n_tokens", "score_micro",
        "threshold_micro", "kept")

  /** The end-to-end curation pipeline as ONE call — what a user of
    * the engine actually runs over raw documents: composite quality
    * verdict ([[graft.operators.TextOps.qualityVerdict]]) AND
    * not-an-exact-duplicate ([[Dedup.exact]], canonical = corpus-wide
    * min doc_id) filter the corpus, then the token-budget selection
    * ([[selectBudget]]) fills each language's budget from the
    * surviving docs' top quality scores down. Stage order is
    * filter → dedup-flag → budget, each stage the independently
    * oracle-verified operator applied verbatim (the corpus_report
    * composition discipline); the budget default is smaller than the
    * standalone operator's because it meters the FILTERED corpus.
    * Output = the selection frame over survivors: every surviving doc
    * with its budget verdict.
    *
    * `selector` picks the metering stage (VERDICT r7 #8): "budget" =
    * score-bucket token budgeting ([[selectBudget]], the default and
    * the oracle-pinned shape); "priority" = weighted A-Res sampling
    * ([[prioritySample]], `sampleN` winners) — production stacks
    * increasingly meter by weighted sampling, and both stages are
    * independently oracle-verified, so the switch only re-routes the
    * SAME survivor frame (spec covers both paths).
    */
  def curate(documents: DataFrame, budgetTokens: Long = 500L,
             selector: String = "budget", sampleN: Int = 25): DataFrame = {
    require(selector == "budget" || selector == "priority" || selector == "dsir",
      s"curate selector must be 'budget', 'priority' or 'dsir', got '$selector'")
    // BOTH stage outputs are checkpointed before composing. The
    // verdict one is not about re-execution: combining the LAZY
    // verdict subtree (4 signal pipelines) with the dedup subtree in
    // one plan sent the DRIVER's optimizer pathological — the merged
    // tree planned+ran in ~40 s at sf0.1 (cpu_util 0.04 = one busy
    // driver thread) where each join separately costs <1 s; against
    // the two checkpoints the whole composition is ~0.3 s. The
    // survivor checkpoint then keeps selectBudget's three consumer
    // branches reading one materialized frame.
    val v = graft.operators.TextOps.qualityVerdict(documents)
      .select(col("doc_id"), col("keep"))
      .localCheckpoint(true)
    val d = Dedup.exact(documents).select(col("doc_id"), col("is_dup"))
    val surviving = documents
      .join(v, "doc_id").join(d, "doc_id")
      .filter(col("keep") && !col("is_dup"))
      .select(documents.columns.map(col): _*)
      .localCheckpoint(true)
    org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(v)
    // "dsir" (r16): importance-based metering — DSIR models trained
    // on the SURVIVOR frame itself (target = its lang='en' slice),
    // top-sampleN most target-like raw survivors kept
    if (selector == "priority") prioritySample(surviving, sampleN)
    else if (selector == "dsir")
      dsirSelect(surviving, col("lang") === "en", k = sampleN)
    else selectBudget(surviving, budgetTokens)
  }

  /** Top-k terms per document by tf-idf. The score is the rational
    * form tf·N/df (monotone in the usual tf·ln(N/df) for fixed tf):
    * integer-valued numerators keep the double exactly reproducible
    * across engines, where ln() is only correct to a ulp and can flip
    * ranks at ties. Shuffle shape: one (doc,term) count with map-side
    * partials, one term-keyed df aggregate, then the df join SALTED on
    * (term, hash(doc_id)) — a raw term key would put every (doc, "the")
    * row of a Zipf head term in one reducer
    * ([[Partitioning.saltedEquiJoin]]; result-identical, plan-spec'd).
    * The top-k window partitions per doc.
    */
  def tfidfTopTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    // The exploded (doc, term) stream feeds BOTH the tf and the df
    // aggregates with different grouping keys, so ReuseExchange cannot
    // share them and the tokenize+explode runs twice. Deliberately NOT
    // checkpointed: measured at sf0.1 (r7, reps=2 and 3), an eager
    // localCheckpoint made tfidf_top_terms ~15% SLOWER (0.60→0.71 s
    // isolated) and doc_commonness flat — a whitespace split is cheap
    // enough that writing the fan-out to block storage costs more than
    // recomputing it (the same verdict as dedup_jaccard's gram table;
    // decontaminate's md5-per-gram stream is the case where it wins).
    // A 100 TB run whose source scan dominates should materialize
    // `terms` itself and feed both aggregates from it.
    val terms = documents
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), " ")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = terms.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"))
    val nDocs = documents.select(countDistinct(col("doc_id")).as("n_docs"))
    val scored = Partitioning.saltedEquiJoin(tf, df, "term", col("doc_id"))
      .crossJoin(broadcast(nDocs)) // 1-row scalar
      .withColumn("score", col("tf").cast("double") * col("n_docs") / col("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "term", "tf", "df", "score")
      .orderBy("doc_id", "rank")
  }

  /** BM25 retrieval over the corpus: rank documents against a fixed
    * query term set (Okapi BM25, k1=1.2, b=0.75) and return the top-k
    * with per-doc scores — the lexical-retrieval primitive a
    * decontamination or eval-set-mining pass runs at corpus scale
    * (tf-idf's [[tfidfTopTerms]] is the per-doc keyword view; this is
    * the per-query ranking view).
    *
    * Determinism (the [[graft.operators.TextOps.unigramLogloss]]
    * two-layer scheme): every input to the floating-point score is an
    * exact integer (tf, df, dl, N, Σdl), the idf log argument is formed
    * as the single division (2N−2df+1)/(2df+1) ≡ (N−df+0.5)/(df+0.5)
    * of exact integers, the log is taken as log2 (the engine-parity
    * base) and rebased to the natural log of standard Okapi BM25
    * (k1=1.2, b=0.75) by one exact-constant multiply, and the
    * per-(doc,term) contribution is
    * quantized to integer micro-units BEFORE the per-doc sum — the
    * distributed aggregation sums LONGS, order-independent where a
    * double sum over an unordered shuffle is not. The oracle SQL spells
    * the same expressions with the same parenthesization, so each IEEE
    * op is correctly rounded to the same bits in both engines.
    *
    * Shuffle shape at 100 TB: the explode is FILTERED to query terms
    * before any shuffle (a per-row map stage — for a q-term query only
    * matching (doc,term) rows survive, a ~q/|V| fraction of the token
    * stream), doc length rides the SAME scan as a grouping column
    * (functionally dependent on doc_id — no separate length join), df
    * falls out of the tf aggregate (≤ q rows, broadcast back), the
    * N/Σdl scalars are the one extra map-only scan, and the final
    * top-k is TakeOrdered (distributed partial top-k per partition,
    * no global window over scored docs); the rank column is a window
    * over the k collected rows only. No Zipf-head salting needed: the
    * only shuffled key is (doc_id, dl, term) — uniform by doc. The tf
    * subtree is re-planned for the df branch (see the inline note) —
    * at this tier that is two cheap filtered scans, not a shuffle.
    */
  def bm25TopDocs(documents: DataFrame,
                  query: Seq[String] = Seq("hash", "join", "merge"),
                  k: Int = 20): DataFrame = {
    require(query.nonEmpty, "bm25TopDocs: query term set must be non-empty")
    val toks = split(lower(trim(col("text"))), " ")
    // dl rides the SAME scan as the filtered explode (grouping on the
    // functionally-dependent (doc_id, dl) pair), so no separate
    // doc-length join; df then falls out of tf (one row per (doc,term)
    // present), dropping the countDistinct expand. Spark still
    // re-plans the shared tf subtree for the df branch (no common-
    // subtree dedup), so the filtered explode scan runs twice —
    // deliberately NOT checkpointed, the tfidfTopTerms trade-off: a
    // whitespace split plus a q-term filter is cheaper than writing
    // the fan-out to block storage at this size; a 100 TB run whose
    // text scan dominates should materialize `tf` and feed both.
    val matched = documents
      .select(col("doc_id"), size(toks).cast(LongType).as("dl"),
        explode(toks).as("term"))
      .filter(col("term").isin(query: _*))
    val tf = matched.groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    // df over the per-doc tf rows (≤ q rows out), broadcast back
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // corpus scalars: N and Σdl (1 row, broadcast) — over ALL docs,
    // matched or not, so this is the one additional (map-only) scan
    val totals = documents
      .select(size(toks).cast(LongType).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val idf = log2(
      (lit(2.0) * col("n_docs").cast("double") - lit(2.0) * col("df").cast("double") + lit(1.0)) /
        (lit(2.0) * col("df").cast("double") + lit(1.0)) + lit(1.0))
    val ratio = (col("dl") * col("n_docs")).cast("double") / col("sum_dl").cast("double")
    val tfp = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") + lit(0.3) + lit(0.9) * ratio)
    // ln(2) rebase: log2 is the engine-parity log (both engines'
    // log2 round identically on this fixture), multiplied by the
    // exact ln 2 constant — one correctly-rounded IEEE multiply in
    // BOTH engines — so score_micro is textbook natural-log Okapi
    // BM25, not the 1.4427x log2 variant (ADVICE r7).
    val contrib =
      floor(idf * lit(0.6931471805599453) * tfp * lit(1e6) + lit(0.5))
        .cast(LongType)
    val scored = tf
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(totals)) // 1-row scalar
      .select(col("doc_id"), contrib.as("contrib_micro"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms_matched"),
        sum(col("contrib_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(k)
    // rank-after-limit: the window input is k rows (documented tiny
    // global window; see Bench's WindowExec note)
    val w = Window.orderBy(col("score_micro").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .select("rank", "doc_id", "n_terms_matched", "score_micro")
      .orderBy("rank")
  }

  /** Multi-query BM25 in ONE corpus pass — the production retrieval
    * shape: a whole eval-query set ranked at once, sharing a single
    * tf/df computation instead of one scan per query (what
    * [[bm25TopDocs]] would cost run q times). The token stream is
    * filtered once to the UNION of all query terms, the per-(doc,term)
    * tf and per-term df aggregates are computed once, and the
    * query-term table (broadcast — query sets are config-sized) fans
    * each scored term out to the queries that contain it.
    *
    * Determinism: identical arithmetic to [[bm25TopDocs]] (exact
    * integer inputs, micro-quantization before the Long sum). The
    * per-query top-k runs as a window partitioned by query_id — safe
    * at 100 TB because Spark's WindowGroupLimit pushdown prefilters
    * every partition to its local top-k BEFORE the exchange, so the
    * shuffle carries ≤ k rows per (input partition × query), never
    * the full scored set (the knn-family top-k discipline).
    */
  def bm25Batch(documents: DataFrame,
                queries: Seq[(Long, Seq[String])] = Seq(
                  0L -> Seq("hash", "join"),
                  1L -> Seq("merge", "sort"),
                  2L -> Seq("vector", "scan", "filter")),
                k: Int = 10): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "bm25Batch: every query needs a non-empty term set")
    val spark = documents.sparkSession
    import spark.implicits._
    // distinct: a term listed twice in one query must not double-count
    // its contribution (BM25 is a set-of-terms model)
    val qdf = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .distinct.toDF("query_id", "term")
    val allTerms = queries.flatMap(_._2).distinct
    val toks = split(lower(trim(col("text"))), " ")
    val matched = documents
      .select(col("doc_id"), size(toks).cast(LongType).as("dl"),
        explode(toks).as("term"))
      .filter(col("term").isin(allTerms: _*))
    val tf = matched.groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val totals = documents
      .select(size(toks).cast(LongType).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val idf = log2(
      (lit(2.0) * col("n_docs").cast("double") - lit(2.0) * col("df").cast("double") + lit(1.0)) /
        (lit(2.0) * col("df").cast("double") + lit(1.0)) + lit(1.0))
    val ratio = (col("dl") * col("n_docs")).cast("double") / col("sum_dl").cast("double")
    val tfp = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") + lit(0.3) + lit(0.9) * ratio)
    // ln(2) rebase: log2 is the engine-parity log (both engines'
    // log2 round identically on this fixture), multiplied by the
    // exact ln 2 constant — one correctly-rounded IEEE multiply in
    // BOTH engines — so score_micro is textbook natural-log Okapi
    // BM25, not the 1.4427x log2 variant (ADVICE r7).
    val contrib =
      floor(idf * lit(0.6931471805599453) * tfp * lit(1e6) + lit(0.5))
        .cast(LongType)
    val scored = tf
      .join(broadcast(df), Seq("term"))
      .join(broadcast(qdf), Seq("term")) // fan out to owning queries
      .crossJoin(broadcast(totals)) // 1-row scalar
      .select(col("query_id"), col("doc_id"), contrib.as("contrib_micro"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms_matched"),
        sum(col("contrib_micro")).as("score_micro"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "n_terms_matched", "score_micro")
      .orderBy("query_id", "rank")
  }

  /** Zipf rank–frequency fit per language: rank the vocabulary by
    * frequency, then least-squares-fit log2(freq) against log2(rank)
    * over the top `vTop` terms. The slope (≈ −1 for natural text,
    * ≈ 0 for the synthetic near-uniform corpus) is the
    * distribution-shape diagnostic a corpus intake pass reports —
    * machine-generated or boilerplate-heavy sources show up as
    * slope anomalies before any model ever trains on them.
    *
    * Determinism: x = ⌊log2(rank)·1e6⌉ and y = ⌊log2(freq)·1e6⌉ are
    * integer micro-units from integer inputs, all five regression
    * sums (n, Σx, Σy, Σxy, Σx²) are exact LONG aggregates
    * (order-independent), and slope/intercept are formed from those
    * exact integers with one division each — identical bits in both
    * engines. Magnitudes stay well inside Long: x ≤ log2(vTop)·1e6,
    * y ≤ 2^63-safe for any realistic corpus (freq < 2^40 ⇒
    * Σxy < vTop·(4e7)² ≈ 1e17).
    *
    * Shuffle shape at 100 TB: one (lang,term) count with map-side
    * partials — the ONLY corpus-sized shuffle; the ranking window and
    * the regression run over the post-aggregate VOCABULARY (metadata-
    * scale: |V|·|langs| rows, ~log-growth in corpus size), so the
    * per-lang window is bounded regardless of data volume.
    */
  def zipfSlope(documents: DataFrame, vTop: Int = 30): DataFrame =
    zipfSlopeFromVocab(zipfVocab(documents), vTop)

  /** The (lang, term, freq) vocabulary aggregate — [[zipfSlope]]'s
    * carried state: exact Long counts whose cell-wise SUM merges are
    * exactly associative, so a standing corpus's vocabulary absorbs an
    * arriving batch's and the fitted slope is BIT-identical to the
    * one-shot ([[zipfSlopeIncremental]]). Vocabulary-scale state
    * (|V|·|langs| rows, ~log growth in corpus size) — bigger than the
    * histogram/register states but still orders below the corpus.
    */
  def zipfVocab(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"), explode(split(lower(trim(col("text"))), " ")).as("term"))
      .groupBy("lang", "term").agg(count(lit(1)).as("freq"))

  /** Cell-wise vocabulary merge — exactly associative Long sums. */
  def mergeZipfVocab(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("lang", "term").agg(sum(col("freq")).as("freq"))

  /** Continuation form: merged vocabulary state → slope, bit-identical
    * to the one-shot over everything arrived (the oracle states the
    * one-shot literally). Per-tick cost = the batch's token scan + a
    * vocabulary-scale merge, never a corpus rescan.
    */
  def zipfSlopeIncremental(batch: DataFrame, vocabState: DataFrame,
                           vTop: Int = 30): DataFrame =
    zipfSlopeFromVocab(mergeZipfVocab(vocabState, zipfVocab(batch)), vTop)

  /** Fit from a materialized vocabulary — the tail shared by the
    * one-shot, incremental, and streaming forms.
    */
  def zipfSlopeFromVocab(vocab: DataFrame, vTop: Int = 30): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("freq").desc, col("term"))
    val ranked = vocab.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= vTop)
      .select(col("lang"),
        floor(log2(col("rnk").cast("double")) * 1e6 + 0.5).cast(LongType).as("x"),
        floor(log2(col("freq").cast("double")) * 1e6 + 0.5).cast(LongType).as("y"))
    // try_divide: a ONE-term language has zero regression denominator
    // (n·Sxx − Sx² = 0, all x equal) — the slope must be NULL, which
    // is what DuckDB's /0 gives; Spark's raw double division would
    // yield NaN and diverge (the r7.4 short-doc audit class). NULL
    // propagates into the intercept through sx·slope.
    val slope = try_divide(
      (col("n_terms") * col("sxy") - col("sx") * col("sy")).cast("double"),
      (col("n_terms") * col("sxx") - col("sx") * col("sx")).cast("double"))
    ranked.groupBy("lang")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("lang"), col("n_terms"),
        slope.as("slope"),
        ((col("sy") - col("sx") * slope).cast("double") /
          col("n_terms").cast("double")).as("intercept_micro"))
      .orderBy("lang")
  }

  /** Pairwise vocabulary overlap between sources: exact Jaccard of
    * the distinct-term sets of every source pair — the
    * source-similarity matrix a mixing config is tuned against (two
    * sources with near-identical vocabularies are candidates for a
    * shared cap; an outlier source is either a new domain or garbage).
    *
    * All set sizes are exact integers; jaccard = |∩| / (|A|+|B|−|∩|)
    * is one division of exact longs — deterministic bits either side.
    *
    * Shuffle shape at 100 TB: distinct (source,term) is a map-side-
    * combined aggregate collapsing the token stream to |V|×|sources|
    * rows (metadata-scale); the term-keyed self-join fans out to at
    * most |sources|²/2 rows PER TERM — bounded by config, not data,
    * so there is no Zipf-head hot key (each term appears once per
    * source post-distinct, unlike the raw token stream tf-idf salts).
    * Per-source sizes (|sources| rows) join back via broadcast.
    */
  def sourceOverlap(documents: DataFrame): DataFrame =
    // the distinct (source,term) aggregate feeds THREE consumers (both
    // self-join sides and the size rollup) and Spark does not dedupe
    // shared subtrees — checkpoint the vocabulary-sized result once so
    // the corpus token scan runs once, not three times (the
    // unigramLogloss freq pattern)
    sourceOverlapFromVocab(sourceVocab(documents).localCheckpoint(true))

  /** The distinct (source, term) set — [[sourceOverlap]]'s carried
    * state: set UNION is exactly associative and idempotent (the
    * strongest merge class — even REPLAYED batches cannot corrupt it),
    * so a standing corpus's vocab absorbs an arriving batch's and the
    * overlap matrix is BIT-identical to the one-shot
    * ([[sourceOverlapIncremental]]). Vocabulary-scale state.
    */
  def sourceVocab(documents: DataFrame): DataFrame =
    documents
      .select(col("source"), explode(split(lower(trim(col("text"))), " ")).as("term"))
      .distinct()

  /** Set-union vocabulary merge — associative AND idempotent. */
  def mergeSourceVocab(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).distinct()

  /** Continuation form: merged vocab state → overlap matrix,
    * bit-identical to the one-shot over everything arrived.
    */
  def sourceOverlapIncremental(batch: DataFrame, vocabState: DataFrame): DataFrame =
    sourceOverlapFromVocab(
      mergeSourceVocab(vocabState, sourceVocab(batch)).localCheckpoint(true))

  private def sourceOverlapFromVocab(vocab: DataFrame): DataFrame = {
    val sizes = vocab.groupBy("source").agg(count(lit(1)).as("n_terms"))
    val a = vocab.toDF("source_a", "term")
    val b = vocab.toDF("source_b", "term")
    a.join(b, Seq("term"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.toDF("source_a", "n_a")), Seq("source_a"))
      .join(broadcast(sizes.toDF("source_b", "n_b")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_common"),
        col("n_a"), col("n_b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double")).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Weighted priority sample WITHOUT replacement, fixed size n
    * (Efraimidis & Spirakis 2006 A-Res): each doc draws priority
    * log2(u)/w from its hash key u and source weight w, and the n
    * LARGEST priorities win — the exact-size counterpart of [[sample]]
    * (whose Bernoulli keep-rate only hits the target size in
    * expectation). A doc's inclusion probability is proportional to
    * its weight in the without-replacement sense, and re-running — on
    * any cluster size, any partitioning — selects the SAME rows.
    *
    * Determinism: u = (2·hi28+1)/2^29 is an exact dyadic rational
    * strictly inside (0,1) (the +1 keeps log2 finite on the
    * 2^-28-probability all-zero digest), and the priority is
    * published micro-QUANTIZED — Spark's log2 and DuckDB's differ by
    * a ULP on non-integer input (measured: 2.8e-17 at sf0.01), so the
    * raw double cannot cross engines; after ⌊·1e6⌉ the residual flips
    * a floor only when a value sits within ~1e-11 of a boundary (the
    * unigramLogloss bargain), and micro-ties break on doc_id — still
    * fully deterministic. Scale: priority is a per-row map
    * expression; the top-n is TakeOrdered (distributed partial
    * top-n, no global window over the corpus); rank = window over
    * the n collected rows.
    */
  def prioritySample(documents: DataFrame, n: Int = 25): DataFrame = {
    val hi = conv(substring(md5(concat(lit("ares:"),
      col("doc_id").cast("string")).cast("binary")), 1, 7), 16, 10)
      .cast(LongType)
    val u = (hi * 2 + 1).cast("double") / lit(536870912.0)
    val priority = floor(log2(u) / sourceWeight(col("source")) * 1e6 + 0.5)
      .cast(LongType)
    val top = documents
      .select(col("doc_id"), col("source"), col("lang"),
        sourceWeight(col("source")).as("weight"), priority.as("priority_micro"))
      .orderBy(col("priority_micro").desc, col("doc_id"))
      .limit(n)
    // rank-after-limit: window input is n rows (documented tiny
    // global window)
    val w = Window.orderBy(col("priority_micro").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(w).cast(LongType))
      .select("rank", "doc_id", "source", "lang", "weight", "priority_micro")
      .orderBy("rank")
  }

  /** Incremental A-Res continuation: the reservoir property that makes
    * priority sampling streamable — because each doc's priority is a
    * pure per-doc function, top-n(A ∪ B) = top-n(top-n(A) ∪ top-n(B)),
    * so the carried state is just the CURRENT n winners (n short rows,
    * bounded regardless of corpus size) and absorbing a batch is the
    * batch's own top-n followed by an n+n-row merge. Result is
    * provably BIT-identical to the one-shot [[prioritySample]] over
    * everything ever arrived — the oracle states the one-shot
    * literally. Steady-state cost per ingestion tick = one map scan of
    * the batch + a 2n-row sort; never a corpus rescan.
    */
  def prioritySampleIncremental(batch: DataFrame, state: DataFrame,
                                n: Int = 25): DataFrame = {
    val cols = Seq("doc_id", "source", "lang", "weight", "priority_micro")
    val batchTop = prioritySample(batch, n).select(cols.map(col): _*)
    val merged = state.select(cols.map(col): _*)
      .unionByName(batchTop)
      .orderBy(col("priority_micro").desc, col("doc_id"))
      .limit(n)
    val w = Window.orderBy(col("priority_micro").desc, col("doc_id"))
    merged.withColumn("rank", row_number().over(w).cast(LongType))
      .select("rank", "doc_id", "source", "lang", "weight", "priority_micro")
      .orderBy("rank")
  }

  /** Per-source document cap: keep at most `cap` documents per source,
    * by (n_chars desc, doc_id) priority — the domain-cap stage every
    * web-scale corpus build runs (one crawl dump must not dominate the
    * mix no matter how large it is).
    *
    * SCALE NOTE — measured, not assumed: source size is
    * wildly skewed (one crawl can be half the corpus), and a naive
    * reading says a window partitioned by raw source funnels the
    * mega-source through one task. In Spark 4 that reading is WRONG:
    * the rank-filter plans a WindowGroupLimit pushdown that pre-trims
    * EVERY input partition to its local top-cap BEFORE the exchange,
    * so the final per-source sort sees ≤ cap·partitions rows — bounded
    * by parallelism, not data. A hand-salted two-phase form (phase-1
    * windows over (source, doc_id mod 32) subgroups, phase-2 re-rank)
    * was built first on the mega-group instinct and measured 3×
    * SLOWER at 1M rows / 80%-skew (0.4 vs 1.2 s — two windows, two
    * shuffles, for a dedup the optimizer already does); the
    * WindowGroupLimit presence is plan-pinned so a future optimizer
    * regression surfaces as a spec failure, and the rejected
    * alternative stays runnable in the harness.
    */
  def capPerSource(documents: DataFrame, cap: Int = 15): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id"))
    documents
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= cap)
      .select("source", "rank", "doc_id", "n_chars")
      .orderBy("source", "rank")
  }

  /** Incremental per-source cap (r8) — the reservoir property that
    * makes the domain cap streamable: per-source top-cap under the
    * TOTAL order (n_chars desc, doc_id) is exactly associative —
    * top-cap(A ∪ B) = top-cap(top-cap(A) ∪ top-cap(B)) — so the
    * carried state is just the current ≤cap winners per source
    * (bounded regardless of corpus size; rank is derived, never
    * stored) and absorbing a batch is the batch's own
    * WindowGroupLimit-pruned cap merged with the state through one
    * ≤2·cap-rows-per-source re-rank. Output is provably BIT-identical
    * to the one-shot [[capPerSource]] over everything ever arrived —
    * the oracle states the one-shot literally (the
    * prioritySampleIncremental discipline, per source). Steady-state
    * cost per tick = one batch scan + a state-sized window; never a
    * corpus rescan.
    */
  def capPerSourceIncremental(batch: DataFrame, state: DataFrame,
                              cap: Int = 15): DataFrame = {
    val cols = Seq("source", "doc_id", "n_chars")
    val batchCap = capPerSource(batch, cap).select(cols.map(col): _*)
    capPerSource(state.select(cols.map(col): _*).unionByName(batchCap), cap)
  }

  // ------------------------------------------------------------------
  // DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  // NeurIPS): select raw-corpus documents whose hashed n-gram feature
  // distribution looks like a TARGET corpus. Features are unigrams +
  // bigrams hashed into [[DsirBuckets]] buckets (the paper's hashed
  // n-gram generative model); both the target and the raw feature
  // distributions are Laplace-smoothed bucket unigram models, and a
  // doc's log importance weight is Σ_feat (log p_target(bucket) −
  // log p_raw(bucket)). The registry selection is the DETERMINISTIC
  // top-k by weight — the zero-temperature limit of the paper's
  // Gumbel-top-k resample (engine-portable where fresh Gumbel noise
  // is not; the hash-threshold-not-rand() house rule).
  //
  // Every log2 runs on exact integer inputs (bucket counts, totals),
  // micro-quantized per term — the bigramScore discipline — so both
  // engines agree bit-for-bit. Bucket count tables are associative
  // under summation (the carried-state contract): the incremental
  // entry scores a batch under the MERGED models ≡ one-shot
  // restricted to batch docs.
  //
  // Scale shape: the feature stream is one token-scale map stage
  // (md5 per gram, mod B); both models are ≤B-row aggregates with
  // map-side partials; the per-bucket contribution table is a ≤B-row
  // BROADCAST join against the probe stream; the per-doc weight is
  // one doc-keyed aggregate. No corpus-scale shuffle anywhere but
  // the final doc aggregate; selection is top-k (TakeOrdered — per-
  // partition heads, never a global sort materialization).
  // ------------------------------------------------------------------

  /** Hashed feature-model resolution. 2^13 in the paper; the fixture
    * default keeps the oracle's bucket CTEs readable while leaving
    * collisions REAL (vocab ≫ B). A production run raises it — cost
    * is one ≤B-row broadcast either way.
    */
  val DsirBuckets: Int = 128

  /** The hashed n-gram feature stream (doc_id, bucket): unigrams +
    * adjacent bigrams. See [[dsirFeatureRows]]. */
  def dsirFeatures(documents: DataFrame, b: Int = DsirBuckets): DataFrame =
    dsirFeatureRows(documents, Nil, b)

  /** (doc_id, `carry`…, bucket) feature rows — the one definition
    * behind [[dsirFeatures]] and [[dsirWeights]]. ONE md5 per TOKEN
    * (28-bit ints from the native [[graft.functions.Md5Keys]] pass,
    * materialized in their own projection — referenced three times and
    * non-cheap, so CollapseProject keeps it), then bigram keys by
    * arithmetic combination h₀·2²⁸ + h₁ (56-bit exact) in HOF lambdas,
    * which Spark interprets per element, so the per-gram work stays
    * shallow (a digest per gram in a lambda measured ~20 s at sf0.1 in
    * the r16 first cut). Both engines hash identically, so bucket ids
    * are exact.
    */
  private def dsirFeatureRows(documents: DataFrame, carry: Seq[String],
      b: Int): DataFrame = {
    val keep = col("doc_id") +: carry.map(col)
    documents
      .select(keep :+ graft.functions.TextExpressions
        .md5Keys(split(lower(trim(col("text"))), " "), 1, 28).as("__h"): _*)
      .select(keep :+ explode(concat(
        transform(col("__h"), h => pmod(h, lit(b.toLong))),
        transform(graft.functions.ColUtil.posRange(size(col("__h")) - lit(1)),
          i => pmod(element_at(col("__h"), i) * lit(1L << 28) +
            element_at(col("__h"), i + 1), lit(b.toLong))))).as("bucket"): _*)
  }

  /** Bucket feature counts (bucket, n) — the DSIR model's carried
    * state: integer sums, exactly associative.
    */
  def dsirBucketCounts(documents: DataFrame, b: Int = DsirBuckets): DataFrame =
    dsirFeatures(documents, b).groupBy("bucket").agg(count(lit(1)).as("n"))

  def mergeDsirCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("bucket").agg(sum(col("n")).as("n"))

  /** Per-RAW-doc log importance weight in micro-bits under explicit
    * target/raw bucket models — the deployment entry point (estimate
    * the two models once, stream raw data through). Output per raw
    * doc: n_feats, weight_micro = Σ_feat [micro(log2(n_t+1)) −
    * micro(log2(N_t+B)) − micro(log2(n_r+1)) + micro(log2(N_r+B))].
    * Positive = more target-like than raw-average.
    */
  def dsirWeightsWith(rawDocs: DataFrame, targetCounts: DataFrame,
      rawCounts: DataFrame, b: Int = DsirBuckets): DataFrame =
    dsirWeightsFromFeatures(dsirFeatures(rawDocs, b), targetCounts,
      rawCounts, b)

  /** The scoring tail over a pre-computed (doc_id, bucket) feature
    * stream — what the streaming twin's reconcile re-scores (the
    * bigramLoglossFromPairs shape: compact sunk features + the final
    * carried models, never the texts). Both count frames feed TWO
    * consumers (the contrib join and their 1-row total) and Spark
    * does not dedupe shared subtrees, so each is checkpointed to its
    * ≤B-row materialization first — without it a caller passing a
    * counts-from-corpus subtree pays the token-scale feature scan
    * twice per model (measured 18.7 s → the checkpointed form at
    * sf0.1; the stream's already-checkpointed state frames re-
    * materialize ≤2·B rows, a no-op-sized job).
    */
  def dsirWeightsFromFeatures(features: DataFrame, targetCounts: DataFrame,
      rawCounts: DataFrame, b: Int = DsirBuckets): DataFrame = {
    def micro(x: Column): Column =
      floor(log2(x.cast("double")) * 1e6 + 0.5).cast(LongType)
    val tc = targetCounts.localCheckpoint(true)
    val rc = rawCounts.localCheckpoint(true)
    // coalesce: sum over an EMPTY count frame is NULL, and an empty
    // TARGET model is a realistic state (streaming early triggers
    // before the first lang='en' doc; curate over a survivor set with
    // no target docs) — without the guard every weight in the batch
    // would come out null. Matches the oracle's coalesce(sum(nt), 0).
    val totT = tc.agg(coalesce(sum(col("n")), lit(0L)).as("tot_t"))
    val totR = rc.agg(coalesce(sum(col("n")), lit(0L)).as("tot_r"))
    // contribution per bucket seen in the raw model; a probe bucket
    // is by construction in the raw stream, target count may be absent
    val contrib = rc.withColumnRenamed("n", "nr")
      .join(tc.withColumnRenamed("n", "nt"), Seq("bucket"), "left")
      .crossJoin(broadcast(totT)).crossJoin(broadcast(totR))
      .select(col("bucket"),
        (micro(coalesce(col("nt"), lit(0L)) + lit(1L)) -
          micro(col("tot_t") + lit(b.toLong)) -
          micro(col("nr") + lit(1L)) +
          micro(col("tot_r") + lit(b.toLong))).as("wt_micro"))
    features
      .join(broadcast(contrib), Seq("bucket")) // ≤B rows
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum(col("wt_micro")).as("weight_micro"))
      .orderBy("doc_id")
  }

  /** One-shot DSIR weights: target = docs matching `targetPred`
    * (the paper's high-quality corpus), raw = the rest; every raw doc
    * scored. The registry instance targets lang = 'en'. The raw
    * feature stream feeds BOTH the raw model and the probe side, so
    * it is checkpointed once (the decontaminate lesson: for
    * md5-derived gram streams the checkpoint beats the double scan).
    */
  def dsirWeights(documents: DataFrame, targetPred: Column,
      b: Int = DsirBuckets): DataFrame = {
    // ONE token-scale feature scan for BOTH models (r18, VERDICT r17
    // #7): the old form ran dsirFeatures twice — once over the target
    // slice, once over the raw slice. Features are per-doc, so
    // deriving them over the whole corpus with the target flag staged
    // and filtering the CHECKPOINTED stream yields bit-identical
    // models from half the document scans; the target model, the raw
    // model, and the probe stream are all filters over one
    // materialization.
    val flagged = dsirFeatureRows(documents
      .select(col("doc_id"), targetPred.as("__target"), col("text")),
      Seq("__target"), b)
      .localCheckpoint(true)
    val raw = flagged.filter(!col("__target")).select("doc_id", "bucket")
    dsirWeightsFromFeatures(raw,
      flagged.filter(col("__target"))
        .groupBy("bucket").agg(count(lit(1)).as("n")),
      raw.groupBy("bucket").agg(count(lit(1)).as("n")), b)
  }

  /** The selection itself: top-`k` raw docs by (weight desc, doc_id)
    * with their attributes — deterministic zero-temperature DSIR.
    */
  def dsirSelect(documents: DataFrame, targetPred: Column, k: Int = 50,
      b: Int = DsirBuckets): DataFrame =
    dsirWeights(documents, targetPred, b)
      .join(documents.select(col("doc_id"), col("lang"), col("source")),
        Seq("doc_id"))
      .orderBy(col("weight_micro").desc, col("doc_id"))
      .limit(k)
      .select("doc_id", "lang", "source", "n_feats", "weight_micro")

  /** The paper's SAMPLED selection ([[dsirSelect]] is its documented
    * zero-temperature limit): Gumbel-top-k resampling — top-k of
    * weight + T·Gumbel draws k docs WITHOUT replacement with
    * P ∝ exp(weight/T), de-duplicating the head that deterministic
    * top-k over-selects. The noise is hash-derived (the engine's
    * determinism convention): u = (md5_28bit("gumbel:"+doc_id)+0.5)
    * / 2^28 — the +0.5 keeps u in the OPEN interval so −ln(−ln u)
    * never hits ±∞ — then the Gumbel quantile in micro-BITS
    * (g/ln 2 · 1e6, same unit as weight_micro) floor-quantized to an
    * exact long before the sum, so selection thresholds compare
    * integers in both engines. Scale shape = [[dsirSelect]]: one
    * map-only noise column over the weights frame, TakeOrdered k.
    */
  def dsirSelectGumbel(documents: DataFrame, targetPred: Column,
      k: Int = 50, temperature: Double = 1.0,
      b: Int = DsirBuckets): DataFrame = {
    val h = conv(substring(md5(concat(lit("gumbel:"),
        col("doc_id").cast("string")).cast("binary")), 1, 7), 16, 10)
      .cast(LongType).cast("double")
    val u = (h + lit(0.5)) / lit(268435456.0)
    val g = -log(-log(u))
    val c = temperature / math.log(2.0) * 1e6
    dsirWeights(documents, targetPred, b)
      .join(documents.select(col("doc_id"), col("lang"), col("source")),
        Seq("doc_id"))
      .withColumn("gumbel_micro", floor(lit(c) * g + 0.5).cast(LongType))
      .withColumn("score_micro", col("weight_micro") + col("gumbel_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(k)
      .select("doc_id", "lang", "source", "weight_micro", "gumbel_micro",
        "score_micro")
  }

  /** UniMax language-sampling allocation (Chung et al. 2023, ICLR —
    * "UniMax: Fairer and More Effective Language Sampling"): given a
    * total token budget and a per-language repeat cap of `maxEpochs`
    * epochs, allocate the budget as uniformly as possible WITHOUT
    * over-repeating low-resource languages — the published
    * alternative to temperature sampling (44p2) whose failure mode
    * (tail languages epoch'd dozens of times at low α) UniMax caps
    * structurally. Greedy water-filling in closed form: languages
    * sorted by cap ascending; language i is capped iff its cap is
    * below the equal share of what remains assuming all smaller
    * languages capped — cap_i·(L−i+1) < B − prefix_{i−1}, exact
    * integer logic (caps ascending make the inductive assumption
    * sound); capped languages take their cap, the rest split the
    * remainder equally (one double division of exact longs).
    *
    * Output per language: n_tokens, cap_tokens, capped, alloc_tokens,
    * epochs = alloc/n (≤ maxEpochs by construction — the paper's
    * fairness guarantee). If the budget exceeds every cap, everything
    * is capped and Σalloc < B (the honest result — UniMax never
    * repeats past the cap).
    *
    * Scale: one corpus token-count scan into a ≤|langs|-row table;
    * the ordering window and both scalar aggregates run at language
    * grain (the bounded-histogram class) — never per-doc.
    */
  def unimax(documents: DataFrame, budgetTokens: Long = 20000L,
             maxEpochs: Int = 1): DataFrame =
    unimaxFromLangTokens(langTokenCounts(documents), budgetTokens, maxEpochs)

  /** The ≤|langs|-row (lang, n_tokens) table [[unimax]] water-fills
    * over — public so the STREAMING twin can carry it as state
    * (exactly associative Long sums; the bounded histogram-class
    * carry, like the DSIR bucket counts).
    */
  def langTokenCounts(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"),
        size(split(lower(trim(col("text"))), " ")).cast(LongType).as("n"))
      .groupBy("lang").agg(sum(col("n")).as("n_tokens"))

  def mergeLangTokenCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("lang").agg(sum(col("n_tokens")).as("n_tokens"))

  /** [[unimax]] over a PRE-AGGREGATED language token table — the
    * carried-state entry point (allocation is a pure function of the
    * ≤|langs|-row totals, so a stream carrying them republishes the
    * EXACT one-shot allocation at every trigger — no drift class).
    */
  def unimaxFromLangTokens(langTokens: DataFrame,
                           budgetTokens: Long = 20000L,
                           maxEpochs: Int = 1): DataFrame = {
    val langTok = langTokens
      .withColumn("cap_tokens", col("n_tokens") * maxEpochs)
    // global window over ≤|langs| rows — metadata scale by design
    val w = Window.orderBy(col("cap_tokens"), col("lang"))
    val ranked = langTok
      .withColumn("rk", row_number().over(w).cast(LongType))
      .withColumn("prefix", sum(col("cap_tokens"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val nLangs = langTok.agg(count(lit(1)).as("n_langs"))
    val flagged = ranked.crossJoin(broadcast(nLangs))
      .withColumn("capped",
        col("cap_tokens") * (col("n_langs") - col("rk") + 1L) <
          lit(budgetTokens) - (col("prefix") - col("cap_tokens")))
    val kAgg = flagged.agg(
      coalesce(sum(when(col("capped"), 1L)), lit(0L)).as("k"),
      coalesce(sum(when(col("capped"), col("cap_tokens"))), lit(0L)).as("s_k"))
    flagged.crossJoin(broadcast(kAgg))
      .withColumn("alloc_tokens",
        when(col("capped"), col("cap_tokens").cast("double"))
          .otherwise((lit(budgetTokens.toDouble) - col("s_k")) /
            (col("n_langs") - col("k"))))
      .withColumn("epochs", col("alloc_tokens") / col("n_tokens"))
      .select("lang", "n_tokens", "cap_tokens", "capped",
        "alloc_tokens", "epochs")
      .orderBy("lang")
  }

  /** The APPLY stage of [[unimax]] — the "which docs" answer the
    * allocation table alone doesn't give (the corpus_temperature
    * convention: rates AND the sampled corpus). A language allocated
    * `epochs` passes = floor(epochs) FULL copies of every doc plus a
    * FRACTIONAL remainder pass: each doc independently joins the
    * remainder with probability frac(epochs) via the deterministic
    * [[sampleKey]] Bernoulli ("unimax:" salt), so the remainder meets
    * its token budget in expectation with a MAP-ONLY decision — the
    * temperatureSample posture. (A cumulative-sum prefix fill would
    * hit the budget exactly but needs a per-language running window —
    * one task per language at corpus scale — so the rate form is the
    * 100 TB-honest apply.) Output: every selected doc with its copy
    * count (n_copies = full_epochs + in_remainder ≥ 1); docs outside
    * the selection are omitted. Shuffle shape: the ≤|langs|-row
    * allocation broadcasts back onto one corpus map pass.
    */
  def unimaxSelect(documents: DataFrame, budgetTokens: Long = 20000L,
                   maxEpochs: Int = 1): DataFrame = {
    val alloc = unimax(documents, budgetTokens, maxEpochs)
      .select(col("lang"), col("epochs"))
      .withColumn("full_epochs", floor(col("epochs")))
      .withColumn("rem_rate", col("epochs") - col("full_epochs"))
    documents
      .select(col("doc_id"), col("lang"),
        size(split(lower(trim(col("text"))), " ")).cast(LongType).as("n_tokens"),
        sampleKey("unimax:", col("doc_id")).as("sample_key"))
      .join(broadcast(alloc), Seq("lang"))
      .withColumn("in_remainder", col("sample_key") < col("rem_rate"))
      .withColumn("n_copies", col("full_epochs") +
        when(col("in_remainder"), 1L).otherwise(0L))
      .filter(col("n_copies") >= 1L)
      .select("doc_id", "lang", "n_tokens", "full_epochs", "in_remainder",
        "n_copies")
      .orderBy("doc_id")
  }

  /** Model continuation: a standing corpus carried as its two bucket
    * count tables, an arriving batch scored under the MERGED models
    * (standing + batch) — exactly the one-shot [[dsirWeights]] over
    * (corpus ∪ batch) restricted to batch raw docs (the
    * bigramLoglossIncremental contract; oracle states the
    * restriction literally).
    */
  def dsirWeightsIncremental(batch: DataFrame, targetPred: Column,
      standingTarget: DataFrame, standingRaw: DataFrame,
      b: Int = DsirBuckets): DataFrame =
    dsirWeightsWith(batch.filter(!targetPred),
      mergeDsirCounts(standingTarget,
        dsirBucketCounts(batch.filter(targetPred), b)),
      mergeDsirCounts(standingRaw,
        dsirBucketCounts(batch.filter(!targetPred), b)), b)
}
