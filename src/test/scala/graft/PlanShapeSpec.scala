package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-fingerprint regression guard (VERDICT r6 #6): for the audited
  * flagship queries, the physical-operator census of the UNEXECUTED
  * plan — shuffle Exchanges, BroadcastHashJoins, SortMergeJoins,
  * Windows — is pinned against the shapes the per-round plan audits
  * signed off on. A future change that silently flips a broadcast to a
  * sort-merge join, adds a shuffle, or drops a window into the hot
  * path fails HERE instead of surfacing as a 100× scale-up surprise.
  *
  * The counts are the initial (pre-AQE) plan over the static sf0.001
  * fixture, so they are deterministic. When a plan change is
  * INTENTIONAL (new operator composition, a deliberately added
  * shuffle), update the pinned row in the same commit and say why in
  * the commit message — that is this spec's contract, the same as any
  * golden file.
  */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark._

  private case class Shape(shuffle: Int, bcastJoin: Int, smj: Int, window: Int)

  // query -> audited shape. Notes capture WHY the shape is the wanted
  // one, so a diff reviewer doesn't have to re-derive it.
  private val pinned: Seq[(String, Shape, String)] = Seq(
    ("repeated_spans", Shape(3, 1, 0, 2),
      "dup-gram agg + ONE doc_id exchange under both island windows " +
        "(lag + running sum share it; the span agg rides the same " +
        "partitioning) + output sort; dup set broadcast onto the " +
        "checkpointed positional stream"),
    ("repeated_spans_scrub", Shape(5, 2, 0, 2),
      "the repeated_spans body + the duplication-sized span table " +
        "broadcast back onto documents; rebuild is a pure map stage"),
    ("audio_fingerprints", Shape(1, 0, 0, 0),
      "pure expression map (hex once, window explode, 64 OR terms); " +
        "only the output sort exchanges"),
    ("audio_near_dup", Shape(5, 0, 0, 0),
      "fp-bucket agg, in-bucket pair expansion, two metadata-scale " +
        "rollups + output sort — NO join operator anywhere (the " +
        "bucket agg IS the matching), no window"),
    ("fact_sales", Shape(3, 9, 0, 1),
      "all dims broadcast onto one lineitem scan; no SMJ anywhere"),
    ("fact_inventory_wh", Shape(2, 4, 0, 0),
      "dims broadcast; one hash shuffle + the output range split"),
    ("q1_pricing_summary", Shape(2, 0, 0, 0),
      "single agg: partial+final exchange pair, joins absent"),
    ("q5_region_volume", Shape(2, 5, 0, 0),
      "5-way dim chain fully broadcast; one agg shuffle + output sort"),
    ("q9_profit_nation", Shape(2, 4, 0, 0),
      "part/supp/nation broadcast onto lineitem; single agg shuffle"),
    ("q18_big_orders", Shape(1, 2, 0, 0),
      "semi-join on big orders broadcast; one agg shuffle"),
    ("q21_waiting_suppliers", Shape(5, 3, 1, 0),
      "the one audited SMJ (self-join on l_orderkey at fixture stats)"),
    ("top_customers", Shape(1, 2, 0, 1),
      "rank window AFTER the limit-sized aggregate, never on raw rows"),
    ("seq_pack", Shape(6, 1, 0, 3),
      "two-phase scan: per-(lang,bucket) windows + tiny offset rollup"),
    ("tfidf_top_terms", Shape(7, 1, 0, 3),
      "salted df join (extra exchange by design) + per-doc top-k window"),
    ("dedup_exact", Shape(2, 1, 0, 0),
      "groupBy+join canonical form — NO fingerprint-partitioned window"),
    ("decontaminate", Shape(4, 3, 0, 0),
      "df-capped gram semi-join; checkpointed stream keeps plan flat"),
    ("passage_dedup", Shape(4, 1, 0, 0),
      "salted df join (tf-idf family) — no raw Zipf-head key join"),
    ("doc_unigram_logloss", Shape(3, 1, 0, 0),
      "salted join probes the CHECKPOINTED freq (its agg exchange ran " +
        "at materialization, not here) + broadcast 1-row total"),
    ("doc_bigram_logloss", Shape(6, 1, 0, 1),
      "ONE declarative plan since r12 (no checkpoint barriers): " +
        "bigram-count agg, the w1-partitioned history-sum window " +
        "(vocabulary²-scale, never per-doc), both salted-join sides, " +
        "per-doc rollup, output sort = 6 exchanges; contribution " +
        "side broadcast at fixture stats (keyed shuffle join at " +
        "scale — either safe)"),
    ("cap_per_source_incremental", Shape(6, 0, 0, 9),
      "three cap invocations (batch cap, carried-state cap from the " +
        "query entry, merge re-rank), each the one-shot's " +
        "1-rank-Window + 2-WindowGroupLimit + 2-exchange shape — at " +
        "steady state the carried side is a materialized ≤cap-per-" +
        "source table, so only the batch cap + 2·cap re-rank remain"),
    ("knn_ivf_pq_residual", Shape(2, 1, 0, 3),
      "literal-codebook residual + ADC map stages, probes broadcast, " +
        "cell-id bucket join; 3 = per-probe rank Window + its 2 " +
        "WindowGroupLimit prefilters (the knn-family top-k shape)"),
    ("doc_perplexity_bucket", Shape(5, 1, 1, 1),
      "the bigram chain hides behind the scored checkpoint; histogram/" +
        "threshold aggregates + the metadata-scale lang-partitioned " +
        "cumulative window (never per-doc); thresholds broadcast back, " +
        "the one SMJ is the fixture-stats histogram-totals join"),
    ("seq_pack_bpe", Shape(11, 8, 1, 3),
      "Bpe.tokenCounts' salted dictionary join feeding the unchanged " +
        "two-phase pack scan (its per-(lang,bucket) windows + tiny " +
        "offset rollup = the seq_pack shape); broadcasts are the " +
        "literal-dictionary and offset sides at fixture stats"),
    ("dsir_weights", Shape(4, 2, 0, 0),
      "the feature stream and both ≤B-row count tables are " +
        "checkpointed (each feeds two consumers — Spark does not " +
        "dedupe shared subtrees), so the final plan reads " +
        "materialized RDDs: one doc-keyed agg exchange + output " +
        "sort + the two 1-row total scalars; contrib and probe " +
        "attach by broadcast"),
    ("doc_trigram_backoff", Shape(10, 6, 0, 0),
      "probe stream = one batch map stage; the five model left joins " +
        "run at DISTINCT-trigram scale (its distinct is one of the " +
        "vocab-scale exchanges) and broadcast at fixture stats " +
        "(keyed shuffles at scale — either safe); the sixth " +
        "broadcast is the salted probe⋈contrib (corpus-scale probe " +
        "side streams); per-doc rollup + output sort"),
    ("doc_char_entropy", Shape(1, 0, 0, 0),
      "pure native-expression map; only the output sort exchanges"),
    ("quality_gopher", Shape(1, 0, 0, 0),
      "pure expression map; only the output sort exchanges"),
    ("dedup_reconcile", Shape(3, 0, 1, 0),
      "closure over checkpointed state; sizes join SMJ at fixture stats"),
    ("kmeans_assign", Shape(1, 0, 0, 0),
      "map-only literal-codebook argmin; only the output sort exchanges"),
    ("decontaminate_bloom", Shape(3, 2, 0, 0),
      "one exchange LIGHTER than decontaminate: the bloom prefilter is " +
        "map-side, and the train-side cap semi-join is dropped (capped " +
        "grams are absent from heldOut, so the pair join excludes them)"),
    ("quality_gate_relative", Shape(3, 1, 0, 2),
      "both windows run over the bounded (lang,score) histogram, " +
        "never per-doc; thresholds broadcast back"),
    ("table_profile_orders", Shape(2, 0, 0, 0),
      "one Expand aggregate: partial+final exchange pair, no joins"),
    ("column_histogram_totalprice", Shape(3, 0, 0, 0),
      "bounds agg + bounded-key groupBy + output sort; the 1-row " +
        "bounds attach via broadcast nested-loop (scalar crossJoin " +
        "pattern), so zero BroadcastHashJoins"),
    ("corpus_select_budget", Shape(3, 1, 0, 1),
      "the one window runs over the bounded (lang,score) token " +
        "histogram, never per-doc; threshold broadcasts back (left " +
        "outer — langs whose top bucket overshoots keep nothing)"),
    ("passage_scrub", Shape(4, 1, 0, 0),
      "salted owner join (tf-idf family, broadcast at fixture stats); " +
        "doc-keyed rebuild — one exchange LIGHTER than the pre-r10 " +
        "fixed-window form: content-defined chunks cover the whole " +
        "stream, so the old doc_id tail re-join (its SMJ + exchange) " +
        "is gone; the union's unkeyed branch is a pure map — no " +
        "per-corpus window, no cross product"),
    ("knn_pq_adc", Shape(2, 0, 0, 3),
      "map-only literal-codebook reconstruction; the probe join is a " +
        "broadcast NESTED-LOOP (non-equi qid<>nid — bcastJoin 0 is " +
        "correct); 'window' 3 = 1 rank Window + 2 WindowGroupLimit " +
        "(the top-k pushdown pre-filtering both exchange sides)"),
    ("knn_ivf_pq", Shape(2, 1, 0, 3),
      "knn_pq_adc's shape with a real EQUI bucket join on cell id " +
        "(the one BroadcastHashJoin) — candidate pruning changes row " +
        "counts, not plan structure"),
    ("dedup_embedding_ivf", Shape(0, 1, 0, 0),
      "in-cell self-join keyed on cluster_id (broadcast at fixture " +
        "stats; flips to a keyed, AQE-splittable shuffle join at " +
        "corpus scale — never a cross product), top-50 via " +
        "TakeOrdered so no sort exchange"),
    ("corpus_shuffle", Shape(4, 1, 0, 2),
      "two-phase global ordinal: per-bucket rank window + B-row " +
        "offset cumulative; offsets broadcast back; output range sort"),
    ("knn_sq_int8", Shape(2, 0, 0, 3),
      "map-only SQ8 reconstruction; broadcast nested-loop probe join " +
        "(non-equi — bhj 0 correct, the knn_pq_adc shape); 'window' 3 " +
        "= 1 rank Window + 2 WindowGroupLimit top-k pushdowns"),
    ("doc_ngram_novelty", Shape(3, 1, 0, 0),
      "first-introducer agg over the CHECKPOINTED gram stream + the " +
        "salted probe join (tf-idf family; one extra exchange by " +
        "design) — no window, no cartesian"),
    ("quality_classifier_score", Shape(3, 5, 0, 2),
      "verdict-label join tree fully broadcast; both windows run over " +
        "the bounded (lang,score) histogram (the gate pattern); the " +
        "trained weights are plan literals — no model join"),
    ("corpus_interleave", Shape(14, 3, 0, 6),
      "two chained two-phase ordinals; the global-offset branch " +
        "re-plans the first ordinal with its rank window pruned (the " +
        "documented double-scan family) — 6 windows = 4 live + 2 " +
        "re-planned, span derived from per-source counts only"),
    ("embedding_covariance", Shape(1, 2, 0, 0),
      "both branches read the CHECKPOINTED 2,144-row term aggregate " +
        "(its generate+agg exchange ran at materialization — the " +
        "doc_unigram_logloss pattern); means broadcast twice; only " +
        "the output sort exchanges"),
    ("events_heavy_hitters", Shape(2, 1, 0, 0),
      "two map-side-combined aggregates (3,072-cell sketch + per-key " +
        "exact); sketch broadcast onto the probe side; the post-join " +
        "min-agg reuses the user_id partitioning and top-N is " +
        "TakeOrdered — no further exchange"),
    ("embedding_pca_project", Shape(1, 0, 0, 0),
      "map-only fold with the component and means as plan literals " +
        "(the kmeans_assign shape); only the output sort exchanges"),
    ("bm25_top_docs", Shape(5, 1, 0, 1),
      "query-filtered explode before any shuffle; 5 exchanges = tf " +
        "agg, its re-planned df branch + tiny term df agg, the " +
        "doc-score rollup, and the 1-row N/Σdl scalar; the one " +
        "window ranks AFTER TakeOrdered (k rows)"),
    ("bm25_batch", Shape(7, 2, 0, 3),
      "one shared tf/df pass for the whole query set (tf re-planned " +
        "for the df branch — the bm25_top_docs trade-off); df and the " +
        "query-term table broadcast; 'window' 3 = 1 per-query rank " +
        "Window + 2 WindowGroupLimit pushdowns bounding the exchange " +
        "to local top-k"),
    ("corpus_zipf_slope", Shape(3, 0, 0, 3),
      "one corpus-sized (lang,term) agg; rank window + 2 " +
        "WindowGroupLimit pushdowns run over the VOCABULARY, and the " +
        "per-lang regression rollup reuses the lang partitioning"),
    ("source_overlap", Shape(4, 3, 0, 0),
      "checkpointed distinct vocab read by all three consumers; " +
        "term self-join + both size joins broadcast at fixture stats " +
        "(the pair join flips to a keyed, bounded-fanout shuffle join " +
        "at scale — ≤ |sources| rows per term key, never Zipf-head)"),
    ("cap_per_source", Shape(2, 0, 0, 3),
      "single per-source window whose rank filter plans the " +
        "WindowGroupLimit pushdown (per-partition top-cap BEFORE the " +
        "exchange — measured 3x faster than a hand-salted two-phase " +
        "at 80% source skew, CapScaleTime); 3 = 1 rank Window + 2 " +
        "WindowGroupLimit"),
    ("cohort_retention", Shape(6, 2, 0, 0),
      "first-order agg + custkey join (broadcast at fixture stats; " +
        "keyed shuffle at scale — either safe) + bounded cell rollup; " +
        "no window, no SinglePartition"),
    ("basket_pairs", Shape(9, 3, 0, 1),
      "orderkey-keyed self-join (basket-bounded fan-out) + part-keyed " +
        "support joins (broadcast at fixture stats); the 1-row " +
        "n_orders scalar is the audited SinglePartition; rank window " +
        "AFTER TakeOrdered"),
    ("rfm_segments", Shape(3, 0, 0, 3),
      "three customer-aggregate ntile windows SHARE one " +
        "SinglePartition exchange (chained global sorts) — the " +
        "customer_value_tiers honesty; + the 1-row max-date scalar"),
    ("validate_benford", Shape(3, 0, 0, 0),
      "one 9-key map-side-combined aggregate + 1-row count broadcast " +
        "nested-loop + output sort; no joins, no window"),
    ("validate_distribution_drift", Shape(6, 0, 0, 0),
      "two map scans union into one ≤20-key aggregate; bounds and " +
        "totals ride broadcast nested-loop 1-row crossJoins (bhj 0 " +
        "correct); no window"),
    ("dedup_containment", Shape(2, 4, 0, 0),
      "candidate-restricted gram chain (r8): the checkpointed LSH " +
        "pair set semi-joins documents to candidate ids BEFORE the " +
        "gram projection (broadcast at fixture stats), then both " +
        "pair-side gram joins broadcast; TakeOrdered top-100, no " +
        "window, no SinglePartition"),
    ("corpus_report", Shape(6, 2, 2, 0),
      "the r17 adjudication pin: quality stage materialized BEFORE " +
        "the narrowing select (checkpoint scan on the q build side — " +
        "the 5x-split collapsed keep expression no longer evaluates " +
        "in a broadcast build), cluster tail reads the propagation " +
        "checkpoint; 6 exchanges = the two doc_id SMJ sides + sizes " +
        "agg + lang rollup pair + output sort; 2 bhj = q and s " +
        "(bounded bool frames at fixture stats), 0 windows"),
    ("corpus_vocab_hll", Shape(4, 0, 0, 0),
      "register aggregate map-side-combines to ≤256 rows/partition; " +
        "the two scalar finals (register summary + exact distinct) " +
        "are the audited SinglePartitions; exact joins via broadcast " +
        "nested-loop 1-row crossJoin (bhj 0 correct)"),
    ("corpus_priority_sample", Shape(0, 0, 0, 1),
      "A-Res weighted top-n: per-row priority map + TakeOrdered — " +
        "ZERO exchanges end to end; the one window ranks the n " +
        "collected rows after the limit"),
    ("corpus_curriculum", Shape(8, 2, 0, 3),
      "two-level ordinal: per-(len,sub) rank window, per-len sub " +
        "offsets (broadcast at fixture stats; unhinted, so a keyed " +
        "shuffle join at scale), histogram base offsets broadcast, " +
        "1-row count via broadcast nested-loop"),
    ("seq_pack_unigram", Shape(15, 8, 1, 3),
      "seq_pack_bpe's shape +4 exchanges because the unigram count " +
        "source re-derives the word dictionary declaratively " +
        "(wordCounts agg + both salted-join sides + per-doc rollup) " +
        "where BPE's plan reads its training-time CHECKPOINT; the " +
        "pack tail (per-(lang,bucket) windows + offset rollup) is " +
        "unchanged; the one SMJ is the fixture-stats offset join"),
    ("ann_operating_curve_ivf_pq", Shape(6, 2, 2, 3),
      "knn_ivf_pq's literal-codebook search widened to the grid: " +
        "corpus cell assign + broadcast probe join + config fan-out; " +
        "the truth side is the ann_exact_truth need passed through " +
        "knnTruthFrom (a bounded nProbes·k collect into a literal " +
        "relation), so the brute side's rank window + 2 " +
        "WindowGroupLimit and 2 exchanges are not in the plan (the " +
        "r17 lazy-truth shape was 8/2/2/6, results identical, " +
        "oracle-checked); the 2 SMJs join CONFIG-scale aggregates " +
        "(4 grid rows x 20 probes x k) — metadata joins, " +
        "broadcast-vs-SMJ immaterial at any scale"),
    ("knn_ivf_pq_residual_opq_learned", Shape(2, 1, 0, 3),
      "EXACTLY knn_ivf_pq_residual's shape: the learned rotation is a " +
        "checkpointed scan by the time this plan builds, so composing " +
        "it adds NO plan structure — literal-codebook residual + ADC " +
        "map stages, broadcast probes, cell-id bucket join, the " +
        "knn-family 1-rank-Window + 2-WindowGroupLimit top-k"),
    ("ann_operating_curve_ivf_pq_residual_opq_learned", Shape(6, 2, 2, 3),
      "EXACTLY ann_operating_curve_ivf_pq's shape for the same reason " +
        "(checkpointed rotated frame = plain scan; truth = the " +
        "literal ann_exact_truth relation): " +
        "widest-config candidate set + config fan-out; the 2 SMJs " +
        "join CONFIG-scale aggregates — metadata joins"),
    ("knn_ivf_pq_residual_opq_pretrained", Shape(2, 1, 0, 3),
      "EXACTLY knn_ivf_pq_residual_opq_learned's shape: the artifact's " +
        "rotation applies as a literal map projection over the scan " +
        "(no checkpoint in the apply path — nothing retrains), so the " +
        "deployment plan adds NO structure to the self-training one; " +
        "every codebook is a plan literal, zero training jobs at build"),
    ("knn_ivf_kmeans", Shape(3, 1, 0, 3),
      "knn_ivf's literal-codebook search under the Lloyd-trained " +
        "coarse codebook: map-only cell assign, broadcast probes, " +
        "cell-id bucket join; the +1 exchange over the residual-family " +
        "shape is the (qid,nid) max-dedup agg for probes whose 2 " +
        "probed lists both hit a candidate"))

  // Explicitly-audited exceptions to the no-SinglePartition sweep:
  // cumulative-offset windows that run over METADATA-scale aggregates
  // (≤ B ≈ 8×parallelism rows, never per-doc data) — same bargain as
  // seq_pack's per-lang offset windows, but with no natural partition
  // column. Each entry is (allowed count, why).
  // A global-aggregate FINAL stage (min/max/count/sum scalars) also
  // plans a SinglePartition exchange, but it carries one partial row
  // per upstream partition — parallelism-scale, not data-scale — so
  // those are audited allowances too, named per query below.
  private val allowedSingle: Map[String, (Int, String)] = Map(
    "fact_sales" -> ((1,
      "dim_order_status surrogate-key window over the bounded " +
        "status×priority distinct — the documented tiny global window")),
    "seq_pack" -> ((2,
      "the observed-id-span min/max scalar (two plan references; " +
        "ReuseExchange collapses them at runtime)")),
    "seq_pack_bpe" -> ((2,
      "seq_pack's observed-id-span scalar, inherited unchanged " +
        "through the swapped count source")),
    "seq_pack_unigram" -> ((2,
      "seq_pack's observed-id-span scalar, inherited unchanged " +
        "through the swapped count source (the seq_pack_bpe allowance)")),
    "tfidf_top_terms" -> ((1, "1-row n_docs count-distinct scalar")),
    "bm25_top_docs" -> ((1, "1-row N/Σdl corpus-scalar final stage")),
    "bm25_batch" -> ((1, "1-row N/Σdl corpus-scalar final stage")),
    "corpus_vocab_hll" -> ((2,
      "two 1-row scalar finals: the ≤256-row register summary and " +
        "the measurability-only exact distinct count (absent from " +
        "the incremental/steady-state form)")),
    "doc_unigram_logloss" -> ((1, "1-row Σfreq vocabulary-total scalar")),
    "doc_bigram_logloss" -> ((1,
      "1-row V vocabulary-count scalar (visible in the plan since " +
        "r12's checkpoint-free tail; previously it ran inside the " +
        "contrib materialization job)")),
    "table_profile_orders" -> ((1,
      "the profile IS a one-row global aggregate — its final stage")),
    "column_histogram_totalprice" -> ((1, "1-row min/max bounds scalar")),
    "corpus_shuffle" -> ((1,
      "bucket-offset cumulative over exactly B bucket-count rows")),
    "corpus_interleave" -> ((3,
      "global-offset cumulative over B bucket rows + the 1-row vt-span " +
        "scalar final (planned twice — once under the re-planned " +
        "offset branch; ReuseExchange collapses them at runtime); " +
        "per-source offset windows ARE partitioned")),
    "basket_pairs" -> ((1, "1-row n_orders scalar final stage")),
    "dsir_weights" -> ((2,
      "the two 1-row model-total scalars (N_t, N_r) over ≤B-row " +
        "bucket count tables — never data-scale input")),
    "doc_trigram_backoff" -> ((1,
      "the 1-row (N, V) model-totals scalar over the vocabulary-" +
        "scale term count table")),
    "validate_benford" -> ((1, "1-row n_total count-scalar final stage")),
    "validate_distribution_drift" -> ((3,
      "all scalar finals over parallelism-scale partials: the union " +
        "min/max bounds row (plan-referenced under the binned branch " +
        "too) and the n₁/n₂ totals over the ≤ bins-row count table — " +
        "never data-scale input")),
    "rfm_segments" -> ((2,
      "the three customer-aggregate ntile windows share ONE " +
        "SinglePartition exchange (pre-aggregated input — the " +
        "customer_value_tiers bargain) + the 1-row max-date scalar")),
    "corpus_curriculum" -> ((2,
      "base-offset cumulative over the n_tokens histogram " +
        "(distinct-lengths rows; the per-length sub-offset window IS " +
        "partitioned) + the 1-row n_docs scalar aggregate")))

  test("flagship physical plans match their audited fingerprints") {
    val diffs = pinned.flatMap { case (name, want, why) =>
      val s = SparkEntry.queries(name)(spark, sf).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      def c(re: String) = re.r.findAllIn(s).size
      val got = Shape(
        c("""\(\d+\) Exchange"""),
        c("""\(\d+\) BroadcastHashJoin"""),
        c("""\(\d+\) SortMergeJoin"""),
        c("""\(\d+\) Window"""))
      if (got == want) Nil
      else List(s"$name: got $got, pinned $want ($why)")
    }
    assert(diffs.isEmpty,
      "plan fingerprint drift — if intentional, update the pin in the " +
        "same commit:\n" + diffs.mkString("\n"))
  }

  test("no flagship plan hides a cartesian product or single-partition exchange") {
    val diffs = pinned.flatMap { case (name, _, _) =>
      val s = SparkEntry.queries(name)(spark, sf).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!s.contains("CartesianProduct"), s"$name plans a cartesian product")
      // the audited global sorts are the deterministic output orderBys
      // (rangepartitioning); SinglePartition exchanges inside the body
      // are the scale smell this guards against. Formatted explain
      // puts the partitioning on its own `Arguments:` line (the old
      // `Exchange SinglePartition` literal never matched — the sweep
      // was dark until r7.4), so match the Arguments form; 1-row
      // scalar aggregates and audited metadata-scale cumulatives are
      // declared in `allowedSingle` with their justification.
      val single = """Arguments: SinglePartition""".r.findAllIn(s).size
      val cap = allowedSingle.get(name).map(_._1).getOrElse(0)
      if (single <= cap) Nil
      else List(s"$name plans $single SinglePartition exchange(s), allowed $cap" +
        allowedSingle.get(name).map(a => s" (${a._2})").getOrElse(""))
    }
    assert(diffs.isEmpty, "SinglePartition audit:\n" + diffs.mkString("\n"))
  }
}
