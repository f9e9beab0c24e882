package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  * Each `queries` entry is one operator from the survey; `oracleSql`
  * holds the equivalent DuckDB SQL the driver hash-compares against.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("fact_sales")(spark, "/root/testdata/sf0.001")

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** A registry entry that takes another entry's output as an input.
    * Called on its own, it derives `need` in the call; in a harness run
    * ([[forRun]]) it is handed the frame the run materialized once.
    */
  final case class Needs(need: String,
                         build: (SparkSession, String, DataFrame) => DataFrame)
      extends ((SparkSession, String) => DataFrame) {
    def apply(s: SparkSession, d: String): DataFrame =
      build(s, d, queries(need)(s, d))
  }

  /** An ANN evaluator over the exact-cosine truth: it needs
    * `ann_exact_truth` and passes that frame through the bounded,
    * validated [[Similarity.knnTruthFrom]] collect in its own build, so
    * the collect is part of the consumer's own call and its truth side
    * is a literal relation. Nothing is memoized across calls.
    */
  private def overTruth(
      f: (SparkSession, String, Option[DataFrame]) => DataFrame): Needs =
    Needs("ann_exact_truth",
      (s, d, truth) => f(s, d, Some(Similarity.knnTruthFrom(truth))))

  /** The registry for one harness run over `d`: the need of every kept
    * entry is materialized once, as an eager local checkpoint outside
    * any timed region, and the same frame is handed to each consumer.
    * A need that fails to materialize fails each of its consumers with
    * its error. Bench and Verify both run through here.
    */
  def forRun(s: SparkSession, d: String, keep: String => Boolean,
             registry: Map[String, (SparkSession, String) => DataFrame] = queries)
      : Map[String, (SparkSession, String) => DataFrame] = {
    val frames = registry.collect { case (n, Needs(need, _)) if keep(n) => need }
      .toSet[String].map(need =>
        need -> scala.util.Try(registry(need)(s, d).localCheckpoint(eager = true)))
      .toMap
    registry.map {
      case (n, Needs(need, build)) if keep(n) =>
        n -> ((s: SparkSession, d: String) => build(s, d, frames(need).get))
      case kv => kv
    }
  }

  /** The composed OPQ-IVFPQ deployment artifact for the two
    * `_pretrained` entries — trained per call, inside the timed
    * region (the r15/r16 convention), so the entries' published cost
    * includes everything they compute from the parquet inputs. The
    * artifact is deterministic, so results are bit-identical to any
    * train-once shape.
    */
  private def opqArtifact(s: SparkSession,
                          d: String): Similarity.IvfPqResidualOpqArtifact =
    Similarity.trainIvfPqResidualOpqArtifact(t(s, d, "embeddings"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A. dimensional warehouse ----
    "dim_date" -> ((s, d) => Dims.dimDate(t(s, d, "orders"))),
    "dim_customer" -> ((s, d) =>
      Dims.dimCustomer(t(s, d, "customer"), t(s, d, "nation"), t(s, d, "region"))),
    "dim_product" -> ((s, d) => Dims.dimProduct(t(s, d, "part"))),
    "dim_supplier" -> ((s, d) =>
      Dims.dimSupplier(t(s, d, "supplier"), t(s, d, "nation"), t(s, d, "region"))),
    "dim_geography" -> ((s, d) => Dims.dimGeography(t(s, d, "nation"), t(s, d, "region"))),
    "dim_order_status" -> ((s, d) => Dims.dimOrderStatus(t(s, d, "orders"))),
    "dim_brand" -> ((s, d) => Dims.dimBrand(t(s, d, "part"))),
    "dim_event_type" -> ((s, d) => Dims.dimEventType(Tables.events(s, d))),
    "fact_sales" -> ((s, d) => Facts.factSales(
      t(s, d, "lineitem"), t(s, d, "orders"),
      Dims.dimCustomer(t(s, d, "customer"), t(s, d, "nation"), t(s, d, "region")),
      Dims.dimProduct(t(s, d, "part")),
      Dims.dimSupplier(t(s, d, "supplier"), t(s, d, "nation"), t(s, d, "region")),
      Dims.dimOrderStatus(t(s, d, "orders")))),
    "fact_inventory" -> ((s, d) =>
      Facts.factInventory(t(s, d, "lineitem"), t(s, d, "part"), t(s, d, "supplier"))),
    "fact_transactions" -> ((s, d) => Facts.factTransactions(Tables.events(s, d))),
    "fact_pnl" -> ((s, d) => Facts.factPnl(t(s, d, "lineitem"), t(s, d, "orders"))),
    "fact_balance" -> ((s, d) => Facts.factBalance(t(s, d, "orders"))),
    "dim_time_of_day" -> ((s, d) => Dims.dimTimeOfDay(Tables.events(s, d))),
    "dim_date_full" -> ((s, d) => Dims.dimDateFull(t(s, d, "orders"))),
    "dim_fiscal_period" -> ((s, d) => Dims.dimFiscalPeriod(t(s, d, "orders"))),
    "dim_payment_method" -> ((s, _) => Dims.dimPaymentMethod(s)),
    "dim_tax_rate" -> ((s, d) => Dims.dimTaxRate(t(s, d, "lineitem"))),
    "dim_promotion" -> ((s, d) => Dims.dimPromotion(t(s, d, "part"))),
    "dim_account" -> ((s, _) => Dims.dimAccount(s)),
    "dim_warehouse" -> ((s, d) => Dims.dimWarehouse(t(s, d, "nation"), t(s, d, "region"))),
    "dim_shipping" -> ((s, d) =>
      Dims.dimShipping(t(s, d, "lineitem"), t(s, d, "orders"))),
    "dim_cost_center" -> ((s, _) => Dims.dimCostCenter(s)),
    "dim_transaction_type" -> ((s, _) => Dims.dimTransactionType(s)),
    "dim_movement_type" -> ((s, d) => Dims.dimMovementType(t(s, d, "lineitem"))),
    "fact_inventory_wh" -> ((s, d) => Facts.factInventoryWarehouse(
      t(s, d, "lineitem"), t(s, d, "supplier"), t(s, d, "part"),
      Dims.dimWarehouse(t(s, d, "nation"), t(s, d, "region")))),
    "fact_sales_promo" -> ((s, d) => Facts.factSalesPromo(
      t(s, d, "lineitem"), t(s, d, "part"), Dims.dimPromotion(t(s, d, "part")))),
    "dim_direccion" -> ((s, d) => Dims.dimDireccion(
      t(s, d, "customer"), t(s, d, "supplier"), t(s, d, "nation"), t(s, d, "region"))),
    "dim_estado_pago" -> ((s, _) => Dims.dimEstadoPago(s)),
    "dim_categoria_producto" -> ((s, d) => Dims.dimProductCategory(t(s, d, "part"))),
    "dim_orden" -> ((s, d) => Dims.dimOrden(t(s, d, "orders"))),
    "dim_line_item" -> ((s, d) => Dims.dimLineItem(t(s, d, "lineitem"), t(s, d, "part"))),
    "dim_detalle_venta" -> ((s, d) => Dims.dimDetalleVenta(t(s, d, "lineitem"))),
    "dim_usuario" -> ((s, d) => Dims.dimUsuario(Tables.events(s, d))),
    "dim_sitio_web" -> ((s, _) => Dims.dimSitioWeb(s)),
    "scd2_customer" -> ((s, d) => Dims.scd2Customer(t(s, d, "orders"))),
    // ---- B. validation ----
    "validate_nulls" -> ((s, d) => Validation.nullProfile(s,
      Seq("customer" -> t(s, d, "customer"), "orders" -> t(s, d, "orders")))),
    "validate_ranges" -> ((s, d) =>
      Validation.rangeChecks(t(s, d, "lineitem"), Tables.events(s, d))),
    "validate_ri" -> ((s, d) => Validation.riChecks(
      t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "customer"),
      t(s, d, "part"), t(s, d, "supplier"), t(s, d, "nation"), t(s, d, "region"))),
    "validate_duplicates" -> ((s, d) => Validation.duplicateProfile(
      t(s, d, "documents"), Tables.events(s, d), t(s, d, "lineitem"))),
    "reconcile_orders" -> ((s, d) =>
      Validation.reconcileOrders(t(s, d, "lineitem"), t(s, d, "orders"))),
    "validate_benford" -> ((s, d) => Validation.benfordTotalprice(t(s, d, "orders"))),
    // drift staged between two snapshot halves (orderkey parity — the
    // incremental-entry split convention)
    "validate_distribution_drift" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val o = t(s, d, "orders")
      Validation.distributionDrift(o.filter(col("o_orderkey") % 2 === 0),
        o.filter(col("o_orderkey") % 2 =!= 0))
    }),
    "validate_freshness" -> ((s, d) => Validation.freshness(
      t(s, d, "orders"), t(s, d, "lineitem"), Tables.events(s, d))),
    "key_skew_orders" -> ((s, d) =>
      Partitioning.keySkewProfile(t(s, d, "orders"), Seq("o_custkey"))),
    "zorder_layout" -> ((s, d) => Partitioning.zOrderLayout(t(s, d, "lineitem"))),
    // ---- C. analytics ----
    "q1_pricing_summary" -> ((s, d) => Analytics.pricingSummary(t(s, d, "lineitem"))),
    "q3_top_unshipped" -> ((s, d) =>
      Analytics.topUnshipped(t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "customer"))),
    "q5_region_volume" -> ((s, d) => Analytics.regionVolume(
      t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "customer"),
      t(s, d, "supplier"), t(s, d, "nation"), t(s, d, "region"))),
    "top_customers" -> ((s, d) =>
      Analytics.topCustomers(t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "customer"))),
    "window_topk_per_brand" -> ((s, d) => Analytics.topkPerBrand(t(s, d, "part"))),
    "running_monthly_revenue" -> ((s, d) => Analytics.runningMonthlyRevenue(t(s, d, "orders"))),
    "cohort_retention" -> ((s, d) => Analytics.cohortRetention(t(s, d, "orders"))),
    "basket_pairs" -> ((s, d) => Analytics.basketPairs(t(s, d, "lineitem"))),
    "rfm_segments" -> ((s, d) => Analytics.rfmSegments(t(s, d, "orders"))),
    "rollup_sales" -> ((s, d) => Analytics.rollupSales(t(s, d, "orders"))),
    "pivot_status_priority" -> ((s, d) => Analytics.pivotStatusPriority(t(s, d, "orders"))),
    "order_value_percentiles" -> ((s, d) => Analytics.orderValuePercentiles(t(s, d, "orders"))),
    "customer_order_gaps" -> ((s, d) => Analytics.orderGaps(t(s, d, "orders"))),
    "customer_value_tiers" -> ((s, d) => Analytics.customerValueTiers(t(s, d, "orders"))),
    "q4_late_priority" -> ((s, d) =>
      Analytics.latePriorityCount(t(s, d, "lineitem"), t(s, d, "orders"))),
    "q18_big_orders" -> ((s, d) =>
      Analytics.bigOrders(t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "customer"))),
    "q7_nation_trade" -> ((s, d) => Analytics.nationTrade(
      t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "customer"),
      t(s, d, "supplier"), t(s, d, "nation"))),
    "q14_promo_share" -> ((s, d) =>
      Analytics.promoShare(t(s, d, "lineitem"), t(s, d, "part"))),
    "q22_dormant_rich" -> ((s, d) =>
      Analytics.dormantRichCustomers(t(s, d, "customer"), t(s, d, "orders"))),
    "q11_value_concentration" -> ((s, d) =>
      Analytics.valueConcentration(t(s, d, "lineitem"))),
    "q17_small_qty_revenue" -> ((s, d) =>
      Analytics.smallQuantityRevenue(t(s, d, "lineitem"))),
    "q13_order_distribution" -> ((s, d) =>
      Analytics.customerOrderDistribution(t(s, d, "customer"), t(s, d, "orders"))),
    "q21_waiting_suppliers" -> ((s, d) => Analytics.waitingSuppliers(
      t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "supplier"))),
    "supplier_scorecard" -> ((s, d) => Analytics.supplierScorecard(
      t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "supplier"))),
    "q8_market_share" -> ((s, d) => Analytics.marketShare(
      t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "customer"),
      t(s, d, "supplier"), t(s, d, "nation"), t(s, d, "region"))),
    "q16_supplier_counts" -> ((s, d) => Analytics.supplierCountMatrix(
      t(s, d, "lineitem"), t(s, d, "part"), t(s, d, "supplier"))),
    "q6_forecast_revenue" -> ((s, d) => Analytics.forecastRevenue(t(s, d, "lineitem"))),
    "q10_returned_customers" -> ((s, d) => Analytics.returnedRevenue(
      t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "customer"), t(s, d, "nation"))),
    "q12_lateness_by_flag" -> ((s, d) =>
      Analytics.latenessByFlag(t(s, d, "lineitem"), t(s, d, "orders"))),
    "q19_bracket_revenue" -> ((s, d) =>
      Analytics.bracketRevenue(t(s, d, "lineitem"), t(s, d, "part"))),
    "q2_min_cost_supp" -> ((s, d) => Analytics.minCostSupplier(
      t(s, d, "lineitem"), t(s, d, "part"), t(s, d, "supplier"),
      t(s, d, "nation"), t(s, d, "region"))),
    "q9_profit_nation" -> ((s, d) => Analytics.profitByNation(
      t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "part"),
      t(s, d, "supplier"), t(s, d, "nation"))),
    "q15_top_supplier" -> ((s, d) =>
      Analytics.topSupplierOfQuarter(t(s, d, "lineitem"), t(s, d, "supplier"))),
    "q20_excess_share" -> ((s, d) => Analytics.excessShareSuppliers(
      t(s, d, "lineitem"), t(s, d, "part"), t(s, d, "supplier"),
      t(s, d, "nation"), t(s, d, "region"))),
    "events_session_window" -> ((s, d) => EventOps.sessionWindows(Tables.events(s, d))),
    "events_new_returning" -> ((s, d) => EventOps.newVsReturning(Tables.events(s, d))),
    "events_sliding" -> ((s, d) => EventOps.slidingActivity(Tables.events(s, d))),
    "events_dau_wau" -> ((s, d) => EventOps.dauWau(Tables.events(s, d))),
    "events_dau_hll" -> ((s, d) => EventOps.dauHll(Tables.events(s, d))),
    "events_transitions" -> ((s, d) => EventOps.typeTransitions(Tables.events(s, d))),
    "asof_join_events_orders" -> ((s, d) =>
      EventOps.asofJoinEventsOrders(Tables.events(s, d), t(s, d, "orders"))),
    "asof_join_custom" -> ((s, d) =>
      EventOps.asofJoinCustom(s, Tables.events(s, d), t(s, d, "orders"))),
    "pit_join_scd2" -> ((s, d) => EventOps.pointInTimeJoin(
      Tables.events(s, d), Dims.scd2Customer(t(s, d, "orders")))),
    "sessionize_events" -> ((s, d) => EventOps.sessionize(Tables.events(s, d))),
    "funnel_signup_purchase" -> ((s, d) => EventOps.funnel(Tables.events(s, d))),
    "dedup_events_latest" -> ((s, d) => EventOps.dedupLatest(Tables.events(s, d))),
    "events_json_kv" -> ((s, d) => EventOps.jsonKv(Tables.events(s, d))),
    "events_hourly" -> ((s, d) => EventOps.hourly(Tables.events(s, d))),
    "events_heavy_hitters" ->
      ((s, d) => EventOps.heavyHittersCms(Tables.events(s, d))),
    "events_heavy_hitters_incremental" -> ((s, d) => {
      // standing corpus vs arriving batch by the md5 split rule on
      // event_id; sketch merges are exactly associative, so the oracle
      // probes batch keys against the FULL corpus's cells
      import org.apache.spark.sql.functions.{col, concat, conv, lit, md5, substring}
      val ev = Tables.events(s, d)
      val bucket = conv(substring(md5(concat(lit("split:"),
        col("event_id").cast("string")).cast("binary")), 1, 4), 16, 10)
        .cast("long") % 10
      EventOps.heavyHittersCmsIncremental(
        ev.filter(bucket < 8), ev.filter(bucket >= 8))
    }),
    "events_anomaly" -> ((s, d) => EventOps.valueAnomalies(Tables.events(s, d))),
    "events_retention" -> ((s, d) => EventOps.cohortRetention(Tables.events(s, d))),
    // ---- D. LLM-data-pipeline ----
    "text_stats" -> ((s, d) => TextOps.textStats(t(s, d, "documents"))),
    "text_quality" -> ((s, d) => TextOps.textQuality(t(s, d, "documents"))),
    "lang_id" -> ((s, d) => TextOps.langId(t(s, d, "documents"))),
    "doc_fingerprint" -> ((s, d) => TextOps.fingerprint(t(s, d, "documents"))),
    "token_counts" -> ((s, d) => TextOps.tokenCounts(t(s, d, "documents"))),
    "doc_chunks" -> ((s, d) => TextOps.chunk(t(s, d, "documents"))),
    "doc_split" -> ((s, d) => TextOps.split_assign(t(s, d, "documents"))),
    "decontaminate" -> ((s, d) => TextOps.decontaminate(t(s, d, "documents"))),
    "contamination_matrix" ->
      ((s, d) => TextOps.contaminationMatrix(t(s, d, "documents"))),
    "decontaminate_bloom" -> ((s, d) => TextOps.decontaminateBloom(t(s, d, "documents"))),
    // incremental admission: even-id docs arrive against the standing
    // rest (the %2 split keeps BOTH sides non-degenerate on the
    // fixture — 4 of the 6 one-shot leak pairs have even train docs);
    // df cap + eval set span the union, so output ≡ the one-shot
    // restricted to batch train docs (the oracle states it literally)
    "decontaminate_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      TextOps.decontaminateIncremental(
        docs.filter(col("doc_id") % 2 =!= 0),
        docs.filter(col("doc_id") % 2 === 0))
    }),
    "doc_repetition" -> ((s, d) => TextOps.repetition(t(s, d, "documents"))),
    "doc_ngram_novelty" -> ((s, d) => TextOps.ngramNovelty(t(s, d, "documents"))),
    // incremental staging: even ids stand, odd ids arrive — output ≡
    // the one-shot novelty restricted to the arriving half
    "doc_ngram_novelty_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      TextOps.ngramNoveltyIncremental(
        docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 =!= 0))
    }),
    "corpus_funnel" -> ((s, d) => TextOps.corpusFunnel(t(s, d, "documents"))),
    "corpus_vocabulary" -> ((s, d) => TextOps.vocabulary(t(s, d, "documents"))),
    "corpus_vocab_hll" -> ((s, d) => TextOps.vocabHll(t(s, d, "documents"))),
    // register-merge continuation (exactly associative MAX state): the
    // even-id corpus's registers absorb the odd-id batch's; the merged
    // summary must BIT-equal the one-shot estimate — oracle restates
    // the one-shot minus the n_exact column (the sketch's reason to
    // exist is NOT carrying the exact count in steady state)
    "corpus_vocab_hll_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      TextOps.vocabHllFromRegisters(TextOps.mergeHllRegisters(
        TextOps.vocabHllRegisters(docs.filter(col("doc_id") % 2 === 0)),
        TextOps.vocabHllRegisters(docs.filter(col("doc_id") % 2 =!= 0))))
    }),
    // sketch-based heavy hitters: no oracle (DataSketches internals are
    // engine-specific) — rows-only check; exactness on the fixture is
    // spec'd against the exact top-N instead
    "corpus_vocabulary_approx" -> ((s, d) => TextOps.vocabularyApprox(t(s, d, "documents"))),
    "doc_commonness" -> ((s, d) => TextOps.commonness(t(s, d, "documents"))),
    "doc_length_hist" -> ((s, d) => TextOps.lengthHistogram(t(s, d, "documents"))),
    "doc_split_summary" -> ((s, d) => TextOps.splitSummary(t(s, d, "documents"))),
    "doc_rolling_fp" -> ((s, d) => TextOps.rollingHash(t(s, d, "documents"))),
    "dedup_exact" -> ((s, d) => Dedup.exact(t(s, d, "documents"))),
    "dedup_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      Dedup.incremental(
        docs.filter(col("doc_id") % 3 =!= 0),  // the standing corpus
        docs.filter(col("doc_id") % 3 === 0))  // the arriving batch
    }),
    "dedup_incremental_minhash" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      Dedup.incrementalNearDup(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0))
    }),
    "snapshot_diff" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, when}
      val orders = t(s, d, "orders")
      // deterministic synthetic snapshots: 1/7 of keys are new-only
      // (inserts), 1/13 old-only (deletes), 1/11 change status (updates)
      val oldSnap = orders.filter(col("o_orderkey") % 7 =!= 0)
      val newSnap = orders.filter(col("o_orderkey") % 13 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 11 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
      Validation.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"),
        Seq("o_custkey", "o_orderstatus", "o_orderpriority"))
    }),
    "dedup_minhash" -> ((s, d) => Dedup.minhashBands(t(s, d, "documents"))),
    "dedup_minhash_pairs" -> ((s, d) => Dedup.minhashPairs(t(s, d, "documents"))),
    // recall/precision of the band index vs exact Jaccard ground
    // truth on a probe subset — the dedup twin of ann_recall
    "dedup_lsh_recall" -> ((s, d) => Dedup.lshRecall(t(s, d, "documents"))),
    "dedup_jaccard" -> ((s, d) => Dedup.jaccardTop(t(s, d, "documents"))),
    "dedup_containment" -> ((s, d) => Dedup.containmentTop(t(s, d, "documents"))),
    "dedup_simhash" -> ((s, d) => Dedup.simhash(t(s, d, "documents"))),
    "knn_cosine_bruteforce" -> ((s, d) => Similarity.knnBrute(t(s, d, "embeddings"))),
    // the exact-cosine truth every ann_*/lsh curve evaluator needs
    // (see overTruth); a harness run materializes it once (forRun)
    "ann_exact_truth" -> ((s, d) => Similarity.knnBrute(t(s, d, "embeddings"))),
    "knn_lsh" -> ((s, d) => Similarity.knnLsh(t(s, d, "embeddings"))),
    "ann_recall" -> overTruth((s, d, truth) =>
      Similarity.annRecall(t(s, d, "embeddings"), truth = truth)),
    // NSW graph ANN: capped in-cell top-M edges + medoid mesh, beam
    // search unrolled to 3 hops — the HNSW-class recall-per-candidate
    // member the quantization families don't cover
    "knn_graph" -> ((s, d) => Similarity.knnGraph(t(s, d, "embeddings"))),
    "ann_recall_graph" -> overTruth((s, d, truth) =>
      Similarity.annRecallGraph(t(s, d, "embeddings"), truth = truth)),
    // per-hop recall/cost sweep from ONE walk (candidate sets nest in
    // hops structurally — the curve matrix's fourth member)
    "ann_operating_curve_graph" -> overTruth((s, d, truth) =>
      Similarity.graphOperatingCurve(t(s, d, "embeddings"),
        truth = truth)),
    // the three point-sweep curves normalized and unioned — the
    // which-family-wins table over ONE shared truth
    "ann_family_comparison" -> overTruth((s, d, truth) =>
      Similarity.annFamilyComparison(t(s, d, "embeddings"),
        truth = truth)),
    "ann_recall_ivf" -> overTruth((s, d, truth) =>
      Similarity.annRecallIvf(t(s, d, "embeddings"), truth = truth)),
    "knn_ivf" -> ((s, d) => Similarity.knnIvf(t(s, d, "embeddings"))),
    "multimodal_frames" -> ((s, d) => Multimodal.frameSample(t(s, d, "documents"))),
    "embedding_stats" -> ((s, d) => Similarity.embeddingStats(t(s, d, "embeddings"))),
    "embedding_quantize" -> ((s, d) => Similarity.quantize(t(s, d, "embeddings"))),
    "dedup_embedding" -> ((s, d) => Similarity.embeddingNearDup(t(s, d, "embeddings"))),
    "dedup_embedding_ivf" -> ((s, d) => Similarity.embeddingNearDupIvf(t(s, d, "embeddings"))),
    // SemDeDup (Abbas et al. 2023): kmeans cells → τ-thresholded
    // in-cell cosine components → keep the least-prototypical member
    "semdedup_prune" -> ((s, d) => Similarity.semdedup(t(s, d, "embeddings"))),
    "semdedup_summary" -> ((s, d) => Similarity.semdedupSummary(t(s, d, "embeddings"))),
    // semantic-dedup admission: even vec_ids = standing corpus (its
    // kept exemplars form the index), odd = arriving batch, under the
    // shared corpus-wide codebook artifact (one codebook, many
    // consumers — the kmeansAssignWith convention)
    "semdedup_admit" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = t(s, d, "embeddings")
      // one assignment scan for both sides of the even/odd split
      // (r18, VERDICT r17 #2 — semdedupAdmitSplit; spec-pinned
      // bit-equal to the two-scan semdedupAdmit form)
      Similarity.semdedupAdmitSplit(emb, col("vec_id") % 2 === 0,
        Similarity.kmeansCodebook(emb, 8, 3))
    }),
    "embedding_centroids" -> ((s, d) => Similarity.labelCentroids(t(s, d, "embeddings"))),
    "knn_ivf_trained" -> ((s, d) => Similarity.knnIvfTrained(t(s, d, "embeddings"))),
    "kmeans_centroids" -> ((s, d) => Similarity.kmeansCentroids(t(s, d, "embeddings"))),
    "kmeans_assign" -> ((s, d) => Similarity.kmeansAssign(t(s, d, "embeddings"))),
    "pq_codes" -> ((s, d) => Similarity.pqCodes(t(s, d, "embeddings"))),
    "pq_centroids" -> ((s, d) => Similarity.pqCentroids(t(s, d, "embeddings"))),
    "embedding_covariance" -> ((s, d) => Similarity.covariance(t(s, d, "embeddings"))),
    "embedding_covariance_incremental" -> ((s, d) => {
      // standing corpus vs arriving batch by the doc_split md5 rule on
      // vec_id (the decontaminate_embedding split); exact associativity
      // makes the oracle the ONE-SHOT covariance over everything
      import org.apache.spark.sql.functions.{col, concat, conv, lit, md5, substring}
      val emb = t(s, d, "embeddings")
      val bucket = conv(substring(md5(concat(lit("split:"),
        col("vec_id").cast("string")).cast("binary")), 1, 4), 16, 10)
        .cast("long") % 10
      Similarity.covarianceIncremental(
        emb.filter(bucket < 8), emb.filter(bucket >= 8))
    }),
    "embedding_pca" -> ((s, d) => Similarity.pcaComponent(t(s, d, "embeddings"))),
    "embedding_pca_top2" -> ((s, d) => Similarity.pcaComponents(t(s, d, "embeddings"))),
    "embedding_rp16" -> ((s, d) => Similarity.randomProject(t(s, d, "embeddings"))),
    "embedding_pca_project" -> ((s, d) => Similarity.pcaProject(t(s, d, "embeddings"))),
    "decontaminate_embedding" ->
      ((s, d) => Similarity.decontaminateEmbedding(t(s, d, "embeddings"))),
    "knn_pq_adc" -> ((s, d) => Similarity.knnPq(t(s, d, "embeddings"))),
    "knn_ivf_pq" -> ((s, d) => Similarity.knnIvfPq(t(s, d, "embeddings"))),
    "knn_ivf_pq_residual" -> ((s, d) =>
      Similarity.knnIvfPqResidual(t(s, d, "embeddings"))),
    "ann_recall_ivf_pq" -> overTruth((s, d, truth) =>
      Similarity.annRecallIvfPq(t(s, d, "embeddings"), truth = truth)),
    // OPQ-style randomized-Hadamard pre-rotation (r8 VERDICT #4): PQ
    // trained and coded in the rotated space; recall scored against
    // the ORIGINAL-space exact truth (rotation preserves cosine)
    "opq_codes" -> ((s, d) =>
      // rotation checkpointed: pqCodes' codebook-training collects
      // would otherwise re-run the d² fold per consumer (see
      // annRecallIvfPqOpq's pin note)
      Similarity.pqCodes(
        Similarity.opqRotate(t(s, d, "embeddings")).localCheckpoint(true))),
    "ann_recall_ivf_pq_opq" -> overTruth((s, d, truth) =>
      Similarity.annRecallIvfPqOpq(t(s, d, "embeddings"),
        truth = truth)),
    // the LEARNED rotation in the Hadamard slot (r11 VERDICT #5):
    // Ge §4 eigenvalue allocation over the deflated PCA eigenbasis;
    // oracle inlines the trained matrix at dump time (the BPE
    // training-vs-apply boundary)
    "ann_recall_ivf_pq_opq_learned" -> overTruth((s, d, truth) =>
      Similarity.annRecallIvfPqOpqLearned(t(s, d, "embeddings"),
        truth = truth)),
    "ann_operating_curve" -> overTruth((s, d, truth) =>
      Similarity.annOperatingCurve(t(s, d, "embeddings"),
        truthPairs = truth)),
    // the LSH family's cost-knob sweep (r11 VERDICT #6): signature
    // length grid over ONE shared candidate set; full-signature row
    // cross-pins to ann_recall
    "lsh_operating_curve" -> overTruth((s, d, truth) =>
      Similarity.lshOperatingCurve(t(s, d, "embeddings"),
        truthPairs = truth)),
    // the COMPOSED index's probeLists sweep (r12 VERDICT #4): one
    // shared candidate set at the widest config over the trained
    // IVF-PQ pipeline; np=2 row cross-pins to ann_recall_ivf_pq
    "ann_operating_curve_ivf_pq" -> overTruth((s, d, truth) =>
      Similarity.annOperatingCurveIvfPq(t(s, d, "embeddings"),
        truth = truth)),
    // the r13 curve in the LEARNED rotation's space (the plain
    // curve's "ADC-limited" reading, answered with a measured table);
    // rotated frame checkpointed once (the annRecallIvfPqOpq pin)
    "ann_operating_curve_ivf_pq_opq_learned" -> overTruth((s, d, truth) =>
      Similarity.annOperatingCurveIvfPqOpqLearned(t(s, d, "embeddings"),
        truth = truth)),
    // the residual member of the curve family (r13) — completes the
    // sweep matrix across raw / learned-rotation / residual
    "ann_operating_curve_ivf_pq_residual" -> overTruth((s, d, truth) =>
      Similarity.annOperatingCurveIvfPqResidual(t(s, d, "embeddings"),
        truth = truth)),
    // the COMPOSED production stack (r14, VERDICT r13 #3): learned
    // rotation THEN per-cell residual PQ — FAISS's real OPQ-IVFPQ;
    // search, point evaluator, and the curve matrix's fourth member
    "knn_ivf_pq_residual_opq_learned" -> ((s, d) =>
      Similarity.knnIvfPqResidualOpqLearned(t(s, d, "embeddings"))),
    "ann_recall_ivf_pq_residual_opq_learned" -> overTruth((s, d, truth) =>
      Similarity.annRecallIvfPqResidualOpqLearned(t(s, d, "embeddings"),
        truth = truth)),
    "ann_operating_curve_ivf_pq_residual_opq_learned" -> overTruth((s, d, truth) =>
      Similarity.annOperatingCurveIvfPqResidualOpqLearned(
        t(s, d, "embeddings"), truth = truth)),
    // r15 (VERDICT r14 #3): the APPLY-ONLY composed twins — the
    // deployment artifact trains per CALL, inside the timed region
    // (the mid-r17 once-per-session memo was REVERTED in commit
    // 8c5a007: a module-level artifact shared across separately-timed
    // entries is cross-query result caching), then the
    // zero-training-jobs search runs under it; output bit-identical
    // to the self-training keys, so the bench shows the
    // deployment-shaped cost beside the train-per-call trio.
    "knn_ivf_pq_residual_opq_pretrained" -> ((s, d) =>
      Similarity.knnIvfPqResidualOpqWith(t(s, d, "embeddings"),
        opqArtifact(s, d))),
    "ann_recall_ivf_pq_residual_opq_pretrained" -> overTruth((s, d, truth) =>
      Similarity.annRecallIvfPqResidualOpqWith(t(s, d, "embeddings"),
        opqArtifact(s, d), truth = truth)),
    // r15 (VERDICT r14 #5): the last SURVEY §2 row without a registry
    // entry — IVF search over the Lloyd-trained coarse codebook; FULL
    // oracle re-deriving the codebook via the shared unrolled-Lloyd
    // CTE chain (kmeans_centroids' bit-identical recipe) with the
    // float round-trip the Scala codebook ships through.
    "knn_ivf_kmeans" -> ((s, d) =>
      Similarity.knnIvfKmeans(t(s, d, "embeddings"))),
    "knn_sq_int8" -> ((s, d) => Similarity.knnSqInt8(t(s, d, "embeddings"))),
    "multimodal_meta" -> ((s, d) => Multimodal.mediaMeta(t(s, d, "documents"))),
    "multimodal_audio" -> ((s, d) => Multimodal.audioWindows(t(s, d, "documents"))),
    // r15: per-window audio fingerprints + aligned-delta near-dup.
    // Pure expressions (no codec, no mapPartitions), so unlike the
    // image family BOTH get FULL oracles. The fixture corpus has no
    // byte-identical payloads, so the near-dup's zero rows are the
    // honest hash-checked result (the spec proves pair detection on
    // planted identical/rotated payloads); the always-populated
    // fingerprint table is the primary surface.
    "audio_fingerprints" -> ((s, d) =>
      Multimodal.audioFingerprints(t(s, d, "documents"))),
    "audio_near_dup" -> ((s, d) =>
      Multimodal.audioNearDup(t(s, d, "documents"))),
    // r15 (VERDICT r14 #4): image perceptual near-dup — per-doc dHash
    // signature + its four 16-bit band keys (the persisted index the
    // band machinery joins; candidate PAIRS can legitimately be zero
    // on an arbitrary corpus, which a rows-only gate can't tell from
    // a broken dump, so the always-populated signature table is the
    // registry surface). Rows-only by the bpe_merges convention:
    // DuckDB cannot decode image containers; the spec pins every
    // signature bit-equal to an independent driver-side reference on
    // real PNGs AND the stub path, and the near-dup pairing itself.
    "multimodal_image_dhash" -> ((s, d) =>
      Multimodal.imageDHashSignatures(s, t(s, d, "documents"))),
    // the admission lifecycle step (r15): odd-id batch admits against
    // the even-id corpus's standing signature index — the
    // cap_per_source_incremental staging convention; rows-only for the
    // same decode-boundary reason, pairwise-non-near-dup contract
    // spec-asserted
    "multimodal_image_admit" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      Multimodal.imageAdmit(s,
        Multimodal.imageDHashSignatures(s, docs.filter(col("doc_id") % 2 === 0)),
        docs.filter(col("doc_id") % 2 =!= 0))
    }),
    // ---- D (r5). corpus construction ----
    "dedup_clusters" -> ((s, d) => Dedup.clusters(t(s, d, "documents"))),
    "dedup_prune" -> ((s, d) => Dedup.prune(t(s, d, "documents"))),
    "corpus_sample" -> ((s, d) => Corpus.sample(t(s, d, "documents"))),
    "corpus_priority_sample" -> ((s, d) => Corpus.prioritySample(t(s, d, "documents"))),
    // the reservoir continuation contract, batch-staged: the even-id
    // half's reservoir absorbs the odd-id batch; merged top-n must
    // BIT-equal the one-shot over everything — same oracle
    "corpus_priority_sample_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      val st = Corpus.prioritySample(docs.filter(col("doc_id") % 2 === 0))
      Corpus.prioritySampleIncremental(docs.filter(col("doc_id") % 2 =!= 0), st)
    }),
    "corpus_mix_summary" -> ((s, d) => Corpus.mixSummary(t(s, d, "documents"))),
    "stratified_sample" -> ((s, d) => Corpus.stratifiedSample(t(s, d, "documents"))),
    "corpus_temperature" -> ((s, d) => Corpus.temperatureSample(t(s, d, "documents"))),
    // UniMax (Chung et al. 2023): epoch-capped water-filling budget
    // allocation — the structural fix for temperature sampling's
    // tail-language over-repetition
    "corpus_unimax" -> ((s, d) => Corpus.unimax(t(s, d, "documents"))),
    // the epochs>1 branch of the cap logic, full-oracle (r17)
    "corpus_unimax_epochs" ->
      ((s, d) => Corpus.unimax(t(s, d, "documents"), 60000L, 3)),
    // the apply stage: allocation → selected docs with copy counts
    // (full epochs + deterministic-Bernoulli fractional remainder)
    "corpus_unimax_select" ->
      ((s, d) => Corpus.unimaxSelect(t(s, d, "documents"))),
    // multi-copy apply (full_epochs >= 2) under oracle (r17)
    "corpus_unimax_select_epochs" ->
      ((s, d) => Corpus.unimaxSelect(t(s, d, "documents"), 60000L, 3)),
    "corpus_temperature_summary" ->
      ((s, d) => Corpus.temperatureSummary(t(s, d, "documents"))),
    "corpus_select_budget" -> ((s, d) => Corpus.selectBudget(t(s, d, "documents"))),
    // DSIR (Xie et al. 2023): hashed-ngram importance weights of raw
    // docs against the lang='en' target slice; deterministic top-k
    // selection (zero-temperature resample)
    "dsir_weights" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Corpus.dsirWeights(t(s, d, "documents"), col("lang") === "en")
    }),
    "dsir_select" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Corpus.dsirSelect(t(s, d, "documents"), col("lang") === "en")
    }),
    // the paper's sampled variant: Gumbel-top-k with hash-derived
    // noise — P ∝ exp(weight/T) without replacement at T = 1
    "dsir_select_gumbel" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Corpus.dsirSelectGumbel(t(s, d, "documents"), col("lang") === "en")
    }),
    // model continuation: standing bucket counts + batch, scored
    // under the merged models ≡ one-shot restricted to batch docs
    "dsir_weights_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      val standing = docs.filter(col("doc_id") % 2 === 0)
      val tgt = col("lang") === "en"
      Corpus.dsirWeightsIncremental(docs.filter(col("doc_id") % 2 =!= 0), tgt,
        Corpus.dsirBucketCounts(standing.filter(tgt)),
        Corpus.dsirBucketCounts(standing.filter(!tgt)))
    }),
    // the dsirWeightsStream reconcile math, stated batch-side (the
    // doc_perplexity_bucket_reconciled convention): %2-split bucket
    // counts merged as the stream's carried state would be, the sunk
    // compact feature streams re-scored under the final models — ≡
    // the one-shot, so graded by the SAME dsir_weights oracle
    "dsir_weights_reconciled" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      val tgt = col("lang") === "en"
      val a = docs.filter(col("doc_id") % 2 === 0)
      val b = docs.filter(col("doc_id") % 2 =!= 0)
      Corpus.dsirWeightsFromFeatures(
        Corpus.dsirFeatures(a.filter(!tgt))
          .unionByName(Corpus.dsirFeatures(b.filter(!tgt))),
        Corpus.mergeDsirCounts(Corpus.dsirBucketCounts(a.filter(tgt)),
          Corpus.dsirBucketCounts(b.filter(tgt))),
        Corpus.mergeDsirCounts(Corpus.dsirBucketCounts(a.filter(!tgt)),
          Corpus.dsirBucketCounts(b.filter(!tgt))))
    }),
    "corpus_curate" -> ((s, d) => Corpus.curate(t(s, d, "documents"))),
    // the r16 selector switch's third path: same verdict+dedup
    // survivor frame, metered by DSIR importance top-k vs the
    // survivors' own lang='en' slice
    "corpus_curate_dsir" -> ((s, d) =>
      Corpus.curate(t(s, d, "documents"), selector = "dsir")),
    // the r8 selector switch's other path: same verdict+dedup survivor
    // frame, metered by weighted A-Res sampling instead of the budget
    "corpus_curate_priority" -> ((s, d) =>
      Corpus.curate(t(s, d, "documents"), selector = "priority")),
    // the budget selection's continuation contract, batch-staged (the
    // quality_gate_incremental pattern): token histograms from two
    // doc_id-split increments merge associatively, re-selection of
    // everything against the merged state must equal the one-shot
    // selection — same oracle
    "corpus_select_budget_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      val a = TextOps.qualityScores(docs.filter(col("doc_id") % 2 === 0))
      val b = TextOps.qualityScores(docs.filter(col("doc_id") % 2 =!= 0))
      val hist = Corpus.mergeBudgetHistograms(
        Corpus.budgetHistogram(a), Corpus.budgetHistogram(b))
      Corpus.selectAgainstThresholds(a.unionByName(b),
        Corpus.budgetThresholds(hist, 2000L))
        .orderBy("doc_id")
    }),
    "corpus_shuffle" -> ((s, d) => Corpus.shufflePlan(t(s, d, "documents"))),
    "corpus_curriculum" -> ((s, d) => Corpus.curriculum(t(s, d, "documents"))),
    "corpus_interleave" -> ((s, d) => Corpus.interleave(t(s, d, "documents"))),
    "seq_pack" -> ((s, d) => Corpus.packPlan(t(s, d, "documents"))),
    // pack geometry under the TRAINED tokenizer's real per-doc cost
    // (Bpe.tokenCounts) instead of the whitespace proxy
    "seq_pack_bpe" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      Corpus.packPlanWithCounts(docs,
        Bpe.tokenCounts(docs, nMerges = 8)
          .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens")))
    }),
    // pack geometry under the unigram tokenizer's real cost (r12
    // VERDICT #5) — the 44q7 mechanism with the count source swapped
    // to the trained unigram dictionary
    "seq_pack_unigram" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      Corpus.packPlanWithCounts(docs,
        UnigramLm.tokenCounts(docs)
          .select(col("doc_id"), col("n_unigram_tokens").as("n_tokens")))
    }),
    "seq_pack_shuffled" -> ((s, d) => Corpus.packPlanShuffled(t(s, d, "documents"))),
    "seq_pack_summary" -> ((s, d) => Corpus.packSummary(t(s, d, "documents"))),
    "seq_pack_manifest" -> ((s, d) => Corpus.packManifest(t(s, d, "documents"))),
    "seq_pack_sequences" -> ((s, d) => Corpus.packSequences(t(s, d, "documents"))),
    "pii_scrub" -> ((s, d) => Corpus.piiScrub(t(s, d, "documents"))),
    "corpus_report" -> ((s, d) => Corpus.report(t(s, d, "documents"))),
    "tfidf_top_terms" -> ((s, d) => Corpus.tfidfTopTerms(t(s, d, "documents"))),
    "bm25_top_docs" -> ((s, d) => Corpus.bm25TopDocs(t(s, d, "documents"))),
    "bm25_batch" -> ((s, d) => Corpus.bm25Batch(t(s, d, "documents"))),
    "corpus_zipf_slope" -> ((s, d) => Corpus.zipfSlope(t(s, d, "documents"))),
    // vocabulary-merge continuation: even-id vocab state absorbs the
    // odd-id batch; merged fit must BIT-equal the one-shot — same oracle
    "corpus_zipf_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      Corpus.zipfSlopeIncremental(docs.filter(col("doc_id") % 2 =!= 0),
        Corpus.zipfVocab(docs.filter(col("doc_id") % 2 === 0)))
    }),
    "source_overlap" -> ((s, d) => Corpus.sourceOverlap(t(s, d, "documents"))),
    // set-union continuation (associative AND idempotent): even-id
    // vocab state absorbs the odd-id batch — same oracle
    "source_overlap_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      Corpus.sourceOverlapIncremental(docs.filter(col("doc_id") % 2 =!= 0),
        Corpus.sourceVocab(docs.filter(col("doc_id") % 2 === 0)))
    }),
    "cap_per_source" -> ((s, d) => Corpus.capPerSource(t(s, d, "documents"))),
    // reservoir continuation: state = the standing half's capped set,
    // batch = the other half; output must equal the one-shot cap over
    // everything (exact associativity of per-source top-cap)
    "cap_per_source_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      Corpus.capPerSourceIncremental(docs.filter(col("doc_id") % 2 =!= 0),
        Corpus.capPerSource(docs.filter(col("doc_id") % 2 === 0)))
    }),
    // bpe_merges stays rows-only (no SQL oracle — the greedy merge
    // fold is not DuckDB-expressible); BpeSpec proves bit-equality
    // against an independent in-memory reference instead. The APPLY
    // surface (token_counts/encode) depends only on the TRAINED
    // dictionary, so those two get full oracles with the word→symbols
    // table inlined as VALUES at dump time (see bpeDictValues).
    "bpe_merges" -> ((s, d) => Bpe.merges(t(s, d, "documents"), nMerges = 8)),
    "bpe_token_counts" -> ((s, d) => Bpe.tokenCounts(t(s, d, "documents"), nMerges = 8)),
    // per-language fertility/compression report under the same
    // trained tokenizer (Rust et al. 2021's multilingual-fairness
    // audit)
    "bpe_fertility" -> ((s, d) => Bpe.fertility(t(s, d, "documents"), nMerges = 8)),
    "bpe_encode" -> ((s, d) => Bpe.encode(t(s, d, "documents"), nMerges = 8)),
    // SentencePiece-style unigram-LM trainer (r8 #8): unigram_vocab is
    // rows-only like bpe_merges — the training DP is sequential per
    // word — with the UnigramSpec independent-reference bit-equality
    // proof standing in; unigram_token_counts gets a FULL oracle via
    // the inlined trained dictionary (the bpe_token_counts pattern)
    "unigram_vocab" -> ((s, d) => UnigramLm.vocab(t(s, d, "documents"))),
    // Kudo §3.2 likelihood-loss prune schedule beside the top-usage
    // default (r11 #8 stretch) — rows-only like the trainer, spec
    // bit-equal to its independent reference
    "unigram_vocab_kudo" -> ((s, d) =>
      UnigramLm.vocabLossPruned(t(s, d, "documents"))),
    // Kudo §3's soft E-step beside the hard-EM default (r12 VERDICT
    // #6): forward-backward expected counts, nano-quantized before
    // the distributed usage sum — rows-only like the trainer, spec
    // bit-equal to its independent reference
    "unigram_vocab_soft" -> ((s, d) =>
      UnigramLm.vocabSoftEm(t(s, d, "documents"))),
    "unigram_token_counts" -> ((s, d) =>
      UnigramLm.tokenCounts(t(s, d, "documents"))),
    // the apply-surface twin of bpe_encode (r11 VERDICT #4): per-doc
    // encoded piece-stream digest under the trained vocabulary; FULL
    // oracle via the VALUES-inlined word→pieces dictionary
    "unigram_encode" -> ((s, d) => UnigramLm.encode(t(s, d, "documents"))),
    // Pre-trained apply overloads (r12 VERDICT #3): the deployment
    // split — train ONCE, ship the artifact, encode forever. Each
    // query trains the artifact first (so the registry entry is
    // self-contained) and then runs the APPLY-ONLY plan, whose build
    // launches zero Spark jobs (spec-asserted); output is
    // bit-identical to the self-training form, so the oracle is the
    // SAME SQL over the same dump-time dictionary.
    "bpe_encode_pretrained" -> ((s, d) => {
      val (m, w) = Bpe.train(t(s, d, "documents"), nMerges = 8)
      org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(w)
      Bpe.encodeWith(t(s, d, "documents"), m)
    }),
    "bpe_token_counts_pretrained" -> ((s, d) => {
      val (m, w) = Bpe.train(t(s, d, "documents"), nMerges = 8)
      org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(w)
      Bpe.tokenCountsWith(t(s, d, "documents"), m)
    }),
    // BYTE-LEVEL BPE (r14): GPT-2's convention — initial symbols are
    // the word's UTF-8 bytes as <0xNN> tokens, so the base alphabet
    // is the closed 256-token byte space and EVERY script trains
    // (the BPE-family completion of the unigram byte fallback).
    // Merge table rows-only (BPE-family convention; spec bit-equality
    // to an independent byte-mode reference); encode FULL oracle via
    // the byte-level dump-time dictionary.
    "bpe_merges_bytes" -> ((s, d) =>
      Bpe.merges(t(s, d, "documents"), nMerges = 8, byteLevel = true)),
    "bpe_encode_bytes" -> ((s, d) =>
      Bpe.encode(t(s, d, "documents"), nMerges = 8, byteLevel = true)),
    // BATCHED trainer (r14 VERDICT #1 — the production path: top-K
    // non-conflicting merges per Spark round, rounds ≈ nMerges/K).
    // Merge table rows-only by BPE-family convention (spec bit-equal
    // to an independent in-memory batched reference + the honest
    // equivalence class vs unbatched pinned in BpeSpec); encode gets
    // a FULL oracle via the batched dump-time dictionary.
    "bpe_merges_batched" -> ((s, d) =>
      Bpe.mergesBatched(t(s, d, "documents"), nMerges = 8, batchK = 4)),
    "bpe_encode_batched" -> ((s, d) =>
      Bpe.encodeBatched(t(s, d, "documents"), nMerges = 8, batchK = 4)),
    "unigram_encode_pretrained" -> ((s, d) =>
      UnigramLm.encodeWith(t(s, d, "documents"),
        UnigramLm.train(t(s, d, "documents")))),
    "unigram_token_counts_pretrained" -> ((s, d) =>
      UnigramLm.tokenCountsWith(t(s, d, "documents"),
        UnigramLm.train(t(s, d, "documents")))),
    // The SOFT-EM trainer on the full pipeline surface (r13 VERDICT
    // #7): a forward–backward-trained artifact driven end-to-end
    // through the same pretrained apply path — vocabSoftEm was
    // previously spec-only; this is the deployment-shaped proof that
    // a soft-EM piece table encodes a corpus, with a FULL oracle over
    // the VALUES-inlined soft dictionary.
    "unigram_encode_pretrained_soft" -> ((s, d) =>
      UnigramLm.encodeWith(t(s, d, "documents"),
        UnigramLm.train(t(s, d, "documents"), softEm = true))),
    // SentencePiece byte_fallback on the apply surface (r14): unseen-
    // script pieces re-emit as <0xNN> byte tokens — a CLOSED output
    // space. On the training corpus coverage is complete, so fallback
    // is a contractual NO-OP: output bit-identical to the plain apply,
    // same oracle SQL (the fallback firing path is spec-pinned on the
    // CJK fixture, TokenizerScopeSpec).
    "unigram_encode_pretrained_bytefallback" -> ((s, d) =>
      UnigramLm.encodeWithByteFallback(t(s, d, "documents"),
        UnigramLm.train(t(s, d, "documents")))),
    // ---- D (r6). steady-state admission + CDC maintenance ----
    "dedup_admit" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      Dedup.admitNearDup(
        docs.filter(col("doc_id") % 3 =!= 0),  // the standing corpus
        docs.filter(col("doc_id") % 3 === 0))  // the arriving batch
    }),
    "fact_transactions_cdc" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val ev = Tables.events(s, d)
      // prior load saw 4/5 of events; the current snapshot swaps in a
      // different 6/7 — so the diff carries real I, U AND D grains
      val oldEv = ev.filter(col("event_id") % 5 =!= 0)
      val newEv = ev.filter(col("event_id") % 7 =!= 0)
      Etl.maintainFactTransactions(Facts.factTransactions(oldEv), newEv)
    }),
    "embedding_normalize" -> ((s, d) => Similarity.normalize(t(s, d, "embeddings"))),
    "dedup_minhash_estimate" -> ((s, d) => Dedup.minhashEstimate(t(s, d, "documents"))),
    "seq_pack_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, sum}
      // two doc_id-ordered corpus increments planned separately, the
      // second continued from the first's per-language token totals;
      // the oracle is the ONE-SHOT plan over everything — hash
      // equality proves the steady-state continuation contract
      val docs = t(s, d, "documents")
      val first = Corpus.packPlan(docs.filter(col("doc_id") < 250))
      val totals = first.groupBy("lang")
        .agg(sum(col("n_tokens")).as("base_tokens"))
      first.unionByName(
          Corpus.packPlanIncremental(docs.filter(col("doc_id") >= 250), totals))
        .orderBy("doc_id")
    }),
    "dedup_reconcile" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      // the streaming admission pipeline's retro-dedup half: arrivals
      // in two doc_id-ordered increments accumulate the doc-level
      // band-graph STATE (corpus-fresh docs only — exactly what the
      // stream carries), then full component closure over that state
      // settles the admitted set. The oracle is the ONE-SHOT
      // dedup_admit SQL over everything — hash equality proves
      // streamed-state ∘ reconcile ≡ one-shot admission.
      val docs = t(s, d, "documents")
      // materialized exactly like the streaming path (the state there
      // is parquet): freshBandsAgainstIndex references its band frame
      // on BOTH anti-join sides and the closure walks the state twice,
      // so unmaterialized frames would re-run the shingle-minhash
      // pipeline ~4x per increment. Checkpoints released after the
      // eager closure; the final plan reads only the labels checkpoint.
      val bridge = org.apache.spark.sql.graft.ColumnBridge
      val corpusIndex = Dedup.bandIndex(docs.filter(col("doc_id") % 3 =!= 0))
        .localCheckpoint(true)
      val arriving = docs.filter(col("doc_id") % 3 === 0)
      val increments = Seq(col("doc_id") < 250, col("doc_id") >= 250)
        .map(p => Dedup.bandColumns(arriving.filter(p)).localCheckpoint(true))
      val state = increments
        .map(b => Dedup.bandGraph(Dedup.freshBandsAgainstIndex(corpusIndex, b)))
        .reduce(_ unionByName _)
        .localCheckpoint(true)
      val out = Dedup.reconcileAdmission(state)
      (corpusIndex +: state +: increments).foreach(bridge.unpersistCheckpoint)
      out
    }),
    "doc_char_entropy" -> ((s, d) => TextOps.charEntropy(t(s, d, "documents"))),
    "quality_gopher" -> ((s, d) => TextOps.gopherQuality(t(s, d, "documents"))),
    "doc_quality_verdict" -> ((s, d) => TextOps.qualityVerdict(t(s, d, "documents"))),
    "quality_classifier" -> ((s, d) => Classifier.train(t(s, d, "documents"))),
    "quality_classifier_score" -> ((s, d) => Classifier.score(t(s, d, "documents"))),
    "quality_gate_relative" -> ((s, d) =>
      TextOps.qualityGate(t(s, d, "documents"))),
    // the streaming twin's continuation contract, batch-staged: carry
    // the associative histogram across two doc_id-split increments,
    // then retro-gate everything against the merged state — must equal
    // the one-shot gate (same oracle)
    "quality_gate_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      val a = TextOps.qualityScores(docs.filter(col("doc_id") % 2 === 0))
      val b = TextOps.qualityScores(docs.filter(col("doc_id") % 2 =!= 0))
      val hist = TextOps.mergeHistograms(
        TextOps.qualityHistogram(a), TextOps.qualityHistogram(b))
      TextOps.gateAgainstThresholds(a.unionByName(b),
          TextOps.gateThresholds(hist))
        .orderBy("doc_id")
    }),
    "table_profile_orders" -> ((s, d) => Validation.tableProfile(t(s, d, "orders"))),
    "column_histogram_totalprice" -> ((s, d) =>
      Validation.columnHistogram(t(s, d, "orders"), "o_totalprice")),
    "passage_dedup" -> ((s, d) => TextOps.passageDedup(t(s, d, "documents"))),
    "passage_scrub" -> ((s, d) => TextOps.passageScrub(t(s, d, "documents"))),
    // gram width and min span are TextOps.SpanGramN (8/8 on the
    // fixture; production ExactSubstr runs ~50/50), the same constant
    // the oracle text renders
    "repeated_spans" -> ((s, d) => TextOps.repeatedSpans(t(s, d, "documents"))),
    "repeated_spans_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      TextOps.repeatedSpansIncremental(
        docs.filter(col("doc_id") % 2 =!= 0),
        docs.filter(col("doc_id") % 2 === 0))
    }),
    "repeated_spans_scrub" -> ((s, d) =>
      TextOps.repeatedSpanScrub(t(s, d, "documents"))),
    "repeated_spans_summary" -> ((s, d) =>
      TextOps.repeatedSpansSummary(t(s, d, "documents"))),
    // the streaming twin's reconcile math stated batch-side (the
    // doc_perplexity_bucket_reconciled convention): per-split counts
    // sum-merged via the STATIONARY full-outer form, every position
    // probed against the merged table — integer-sum associativity
    // makes it ≡ the one-shot, so the SAME oracle grades it
    "repeated_spans_reconciled" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      val pa = TextOps.spanGramPositions(docs.filter(col("doc_id") % 2 === 0))
        .localCheckpoint(true)
      val pb = TextOps.spanGramPositions(docs.filter(col("doc_id") % 2 =!= 0))
        .localCheckpoint(true)
      TextOps.spansAgainstCounts(pa.unionByName(pb),
        TextOps.mergeSpanGramCountsStationary(
          TextOps.spanGramCounts(pa), TextOps.spanGramCounts(pb)))
    }),
    "doc_unigram_logloss" -> ((s, d) => TextOps.unigramLogloss(t(s, d, "documents"))),
    "doc_bigram_logloss" -> ((s, d) => TextOps.bigramLogloss(t(s, d, "documents"))),
    "doc_perplexity_bucket" -> ((s, d) =>
      TextOps.perplexityBuckets(t(s, d, "documents"))),
    // model continuation: standing corpus carried as its count tables,
    // batch scored under the merged model ≡ one-shot restricted to
    // batch docs
    "doc_bigram_logloss_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      val standing = docs.filter(col("doc_id") % 2 === 0)
      TextOps.bigramLoglossIncremental(docs.filter(col("doc_id") % 2 =!= 0),
        TextOps.bigramCounts(standing), TextOps.termCounts(standing))
    }),
    // stupid-backoff trigram scoring (Brants et al. 2007), HELD-OUT
    // by design: model counts from the even-doc_id half only, odd
    // half scored — a self-trained model contains every trigram it
    // scores, so backoff would never fire (spec-pinned degeneracy)
    "doc_trigram_backoff" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      TextOps.trigramBackoff(docs.filter(col("doc_id") % 2 =!= 0),
        docs.filter(col("doc_id") % 2 === 0))
    }),
    // the trigram stream's lambda split settled in batch (the
    // dsir_weights_reconciled convention): two triggers' model counts
    // merged by summation, both triggers' sunk probe streams
    // re-scored under the FINAL model — per the reconcile contract
    // this equals the one-shot doc_trigram_backoff, and the
    // one-shot's oracle grades it (the actual Structured Streaming
    // twin rides the same helpers; the spec drives it)
    "trigram_backoff_reconciled" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      val model = docs.filter(col("doc_id") % 2 === 0)
      val probe = docs.filter(col("doc_id") % 2 =!= 0)
      val (mA, mB) = (model.filter(col("doc_id") % 4 === 0),
        model.filter(col("doc_id") % 4 =!= 0))
      val (pA, pB) = (probe.filter(col("doc_id") % 4 === 1),
        probe.filter(col("doc_id") % 4 =!= 1))
      TextOps.trigramBackoffScore(
        TextOps.trigramPairsOf(pA).unionByName(TextOps.trigramPairsOf(pB)),
        TextOps.mergeTrigramCounts(TextOps.trigramCounts(mA),
          TextOps.trigramCounts(mB)),
        TextOps.mergeBigramCounts(TextOps.bigramCounts(mA),
          TextOps.bigramCounts(mB)),
        TextOps.mergeTermCounts(TextOps.termCounts(mA),
          TextOps.termCounts(mB)))
    }),
    // per-source OOV-pressure report over the same held-out probes
    "trigram_backoff_summary" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      TextOps.trigramBackoffSummary(docs.filter(col("doc_id") % 2 =!= 0),
        docs.filter(col("doc_id") % 2 === 0))
    }),
    // the perplexity-bucket stream's lambda split, settled in batch
    // (r10 VERDICT #2): two triggers' sunk (doc_id, bigram) pair
    // streams re-scored under the FINAL merged model, histogram
    // rebuilt from the settled scores, re-bucketed — per the
    // reconcile contract this equals the one-shot perplexityBuckets,
    // and the one-shot's oracle grades it (the actual Structured
    // Streaming twin rides the same helpers; ScaleSpec drives it)
    "doc_perplexity_bucket_reconciled" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = t(s, d, "documents")
      val standing = docs.filter(col("doc_id") % 2 === 0)
      val arriving = docs.filter(col("doc_id") % 2 =!= 0)
      // consumed ONCE by the window-based scoring tail (r12) — no
      // checkpoint (the streaming twin's mb checkpoint exists because
      // its mb ALSO feeds the state write; here there is no such
      // second consumer)
      val mb = TextOps.mergeBigramCounts(
        TextOps.bigramCounts(standing), TextOps.bigramCounts(arriving))
      val mt = TextOps.mergeTermCounts(
        TextOps.termCounts(standing), TextOps.termCounts(arriving))
      val settled = TextOps.bigramLoglossFromPairs(
          TextOps.bigramPairsOf(standing)
            .unionByName(TextOps.bigramPairsOf(arriving)), mb, mt)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("logloss_microbits"))
        .localCheckpoint(true)
      TextOps.bucketAgainstThresholds(settled,
        TextOps.perplexityThresholds(TextOps.perplexityHistogram(settled)))
    })
  )

  // ---------------------------------------------------------------------
  // Oracle SQL (DuckDB). Shared fragments keep Spark/SQL decimal math in
  // lockstep: money → DECIMAL(12,2), rates → DECIMAL(4,2),
  // net = ep*(1-dc) → DECIMAL(14,4); every aggregate cast to
  // BIGINT/DOUBLE to match the Spark output schema exactly.
  // ---------------------------------------------------------------------

  /** lineitem with exact-decimal derived columns. */
  private val liCte =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
      |  l_extendedprice, l_returnflag, l_linestatus, l_shipdate,
      |  CAST(l_quantity AS DECIMAL(12,2)) AS qt,
      |  CAST(l_extendedprice AS DECIMAL(12,2)) AS ep,
      |  CAST(l_discount AS DECIMAL(4,2)) AS dc,
      |  CAST(l_tax AS DECIMAL(4,2)) AS tx,
      |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |       CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))
      |       AS DECIMAL(14,4)) AS net
      |FROM lineitem""".stripMargin

  private val dayCase =
    """CASE dw WHEN 1 THEN 'Monday' WHEN 2 THEN 'Tuesday' WHEN 3 THEN 'Wednesday'
      | WHEN 4 THEN 'Thursday' WHEN 5 THEN 'Friday' WHEN 6 THEN 'Saturday'
      | ELSE 'Sunday' END""".stripMargin
  private val monthCase =
    """CASE m WHEN 1 THEN 'January' WHEN 2 THEN 'February' WHEN 3 THEN 'March'
      | WHEN 4 THEN 'April' WHEN 5 THEN 'May' WHEN 6 THEN 'June' WHEN 7 THEN 'July'
      | WHEN 8 THEN 'August' WHEN 9 THEN 'September' WHEN 10 THEN 'October'
      | WHEN 11 THEN 'November' ELSE 'December' END""".stripMargin

  // byte-identical twin of Dedup.minhashBands: polynomial base-31 hash
  // of every 5-char window over ASCII code points (mod p), then the
  // shared Carter-Wegman mixes
  private val shingleHashSql = {
    val poly = (0 until 5).map(j => s"ascii(substr(nt, i+$j, 1))")
      .reduce((acc, c) => s"($acc * 31 + $c)")
    // BIGINT so the downstream a_k·x products don't overflow INT32
    s"CAST($poly % ${Dedup.MixP} AS BIGINT)"
  }
  private val minhashCols = (0 until 12).map { k =>
    val (a, b) = (Dedup.MixA(k), Dedup.MixB(k))
    s"list_min(list_transform(xs, x -> ($a * x + $b) % ${Dedup.MixP})) AS mh_$k"
  }.mkString(",\n  ")
  private val bandCols = (0 until 4).map(b =>
    s"md5(CAST(mh_${3 * b} AS VARCHAR) || '|' || CAST(mh_${3 * b + 1} AS VARCHAR) || " +
      s"'|' || CAST(mh_${3 * b + 2} AS VARCHAR)) AS band_$b"
  ).mkString(",\n  ")
  private val minhashCtes =
    s"""t AS (SELECT doc_id, lower(trim(text)) AS nt FROM documents),
       |x AS (SELECT doc_id, list_transform(range(1, length(nt)-3),
       |  i -> $shingleHashSql) AS xs FROM t),
       |m AS (SELECT doc_id,
       |  $minhashCols
       |FROM x),
       |bands AS (SELECT doc_id,
       |  $bandCols
       |FROM m)""".stripMargin

  // DuckDB twin of Similarity.lshSignature over a double-list column
  // `v`: 8 bits, each the sign of the ordered dot with the md5-derived
  // ±1 hyperplane (coefficients embedded from the same generator —
  // single source of truth)
  private val lshSigSql = (0 until 8).map { p =>
    val coefs = graft.operators.Similarity.lshPlaneCoefs(p, 64)
      .map(c => if (c > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    s"(CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ($coefs)[i])) > 0" +
      " THEN '1' ELSE '0' END)"
  }.mkString(" || ")

  // LSH band-bucket candidate pairs, bucket-size-capped — twin of
  // Dedup.minhashPairs (shares Dedup.BandBucketCap)
  private val bandPairCtes =
    s"""e AS (
       |  SELECT doc_id, 0 AS band_idx, band_0 AS band_key FROM bands
       |  UNION ALL SELECT doc_id, 1, band_1 FROM bands
       |  UNION ALL SELECT doc_id, 2, band_2 FROM bands
       |  UNION ALL SELECT doc_id, 3, band_3 FROM bands),
       |bc AS (SELECT band_idx, band_key FROM e GROUP BY 1, 2
       |  HAVING count(*) BETWEEN 2 AND ${Dedup.BandBucketCap}),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |  FROM e a JOIN bc USING (band_idx, band_key)
       |  JOIN e c ON a.band_idx = c.band_idx AND a.band_key = c.band_key
       |    AND a.doc_id < c.doc_id)""".stripMargin

  // One-shot complete admission over everything that arrived —
  // corpus-collision anti-join, then the recursive min-label flood
  // confined to the fresh batch docs. ONE text bound to TWO keys:
  // dedup_admit (the batch operator) and dedup_reconcile (incremental
  // band-graph state + retro closure), so hash equality proves the
  // streamed-then-reconciled path reproduces the one-shot admission.
  private val admitOneShotSql =
    s"""WITH RECURSIVE $minhashCtes,
       |e AS (
       |  SELECT doc_id, 0 AS band_idx, band_0 AS band_key FROM bands
       |  UNION ALL SELECT doc_id, 1, band_1 FROM bands
       |  UNION ALL SELECT doc_id, 2, band_2 FROM bands
       |  UNION ALL SELECT doc_id, 3, band_3 FROM bands),
       |ci AS (SELECT DISTINCT band_idx, band_key FROM e WHERE doc_id % 3 <> 0),
       |coll AS (SELECT DISTINCT e.doc_id FROM e JOIN ci USING (band_idx, band_key)
       |  WHERE e.doc_id % 3 = 0),
       |fresh AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0
       |  AND doc_id NOT IN (SELECT doc_id FROM coll)),
       |ef AS (SELECT e.doc_id, e.band_idx, e.band_key FROM e JOIN fresh USING (doc_id)),
       |fbc AS (SELECT band_idx, band_key FROM ef GROUP BY 1, 2
       |  HAVING count(*) BETWEEN 2 AND ${Dedup.BandBucketCap}),
       |fcand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |  FROM ef a JOIN fbc USING (band_idx, band_key)
       |  JOIN ef c ON a.band_idx = c.band_idx AND a.band_key = c.band_key
       |    AND a.doc_id < c.doc_id),
       |ed AS (SELECT doc_a AS src, doc_b AS dst FROM fcand
       |  UNION ALL SELECT doc_b, doc_a FROM fcand),
       |reach(doc_id, lbl) AS (
       |  SELECT doc_id, doc_id FROM fresh
       |  UNION
       |  SELECT ed.src, r.lbl FROM ed JOIN reach r ON ed.dst = r.doc_id),
       |lab AS (SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc_id),
       |sz AS (SELECT doc_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size FROM lab)
       |SELECT doc_id, cluster_size, cluster_size - 1 AS n_batch_dups
       |FROM sz WHERE doc_id = cluster_id ORDER BY doc_id""".stripMargin

  /** Shared CTE chain for the k-means oracles: exact double vectors
    * (e), nano-unit quantized elements for order-free integer sums
    * (eq), seed codebook c0 = first k vectors, then three unrolled
    * Lloyd iterations (assign a_t from c_{t-1}; means m_t from exact
    * long sums; codebook c_t with COALESCE carry for emptied
    * clusters) — the SQL twin of Similarity.kmeansCodebook.
    */
  /** The Lloyd-iteration CTE blocks with a NAME PREFIX, so the same
    * generator serves the bare coarse-kmeans oracles (prefix "" —
    * names eq/c0/a1/…) and composed oracles that need a second,
    * non-colliding coarse quantizer next to other CTEs (knn_ivf_pq
    * uses prefix "g"). Assumes a CTE `e` (vec_id, exact double v) is
    * already in scope.
    */
  private def kmeansBlocksSql(p: String, k: Int, iters: Int): String = {
    val iterBlocks = (1 to iters).map { t =>
      s"""${p}a$t AS MATERIALIZED (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      list_sum(list_transform(range(1, len(e.v)+1),
         |        i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))) ASC, c.cid ASC) AS rn
         |  FROM e CROSS JOIN ${p}c${t - 1} c) WHERE rn = 1),
         |${p}m$t AS MATERIALIZED (SELECT a.cid, q.dim,
         |    CAST(SUM(q.q) AS DOUBLE)/1e9/count(*) AS mv
         |  FROM ${p}a$t a JOIN ${p}eq q USING (vec_id) GROUP BY a.cid, q.dim),
         |${p}c$t AS MATERIALIZED (SELECT p.cid, COALESCE(n.cv, p.cv) AS cv
         |  FROM ${p}c${t - 1} p LEFT JOIN (SELECT cid, list(mv ORDER BY dim) AS cv
         |    FROM ${p}m$t GROUP BY cid) n USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""${p}eq AS MATERIALIZED (SELECT vec_id, u.i - 1 AS dim, CAST(round(u.x*1e9) AS BIGINT) AS q
       |  FROM (SELECT vec_id, unnest(list_transform(range(1, len(v)+1),
       |      i -> {'i': CAST(i AS BIGINT), 'x': v[i]})) AS u
       |    FROM e)),
       |${p}c0 AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $k),
       |$iterBlocks""".stripMargin
  }

  /** UniMax allocation oracle, templated on (budget, maxEpochs) —
    * the ONE water-filling recipe graded at both the default point
    * and the epochs>1 branch (corpus_unimax_epochs).
    */
  private def unimaxCoreCtes(budget: Long, maxEpochs: Int): String =
    s"""lt AS (SELECT lang,
      |  CAST(sum(len(string_split(lower(trim(text)), ' '))) AS BIGINT) AS n_tokens
      |FROM documents GROUP BY 1),
      |c AS (SELECT lang, n_tokens, n_tokens * $maxEpochs AS cap_tokens FROM lt),
      |r AS (SELECT lang, n_tokens, cap_tokens,
      |  CAST(row_number() OVER (ORDER BY cap_tokens, lang) AS BIGINT) AS rk,
      |  CAST(sum(cap_tokens) OVER (ORDER BY cap_tokens, lang) AS BIGINT) AS prefix
      |FROM c),
      |l AS (SELECT CAST(count(*) AS BIGINT) AS n_langs FROM c),
      |f AS (SELECT r.*, l.n_langs,
      |  cap_tokens * (n_langs - rk + 1) < $budget - (prefix - cap_tokens) AS capped
      |FROM r CROSS JOIN l),
      |k AS (SELECT CAST(coalesce(sum(CASE WHEN capped THEN 1 END), 0) AS BIGINT) AS k,
      |  CAST(coalesce(sum(CASE WHEN capped THEN cap_tokens END), 0) AS BIGINT) AS s_k
      |FROM f)""".stripMargin

  private def unimaxAllocSql(budget: Long, maxEpochs: Int): String =
    s"""WITH ${unimaxCoreCtes(budget, maxEpochs)}
      |SELECT lang, n_tokens, cap_tokens, capped,
      |  CASE WHEN capped THEN CAST(cap_tokens AS DOUBLE)
      |    ELSE (CAST($budget AS DOUBLE) - s_k) / (n_langs - k) END AS alloc_tokens,
      |  CASE WHEN capped THEN CAST(cap_tokens AS DOUBLE)
      |    ELSE (CAST($budget AS DOUBLE) - s_k) / (n_langs - k) END / n_tokens AS epochs
      |FROM f CROSS JOIN k ORDER BY lang""".stripMargin

  private def unimaxSelectSql(budget: Long, maxEpochs: Int): String =
    s"""WITH ${unimaxCoreCtes(budget, maxEpochs)},
      |ep AS (SELECT lang,
      |  CASE WHEN capped THEN CAST(cap_tokens AS DOUBLE)
      |    ELSE (CAST($budget AS DOUBLE) - s_k) / (n_langs - k) END / n_tokens AS epochs
      |FROM f CROSS JOIN k),
      |al AS (SELECT lang, CAST(floor(epochs) AS BIGINT) AS full_epochs,
      |  epochs - floor(epochs) AS rem_rate FROM ep),
      |dk AS (SELECT doc_id, lang,
      |  CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tokens,
      |  ('0x' || substr(md5('unimax:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
      |    / CAST(268435456 AS DOUBLE) AS sample_key
      |FROM documents)
      |SELECT dk.doc_id, dk.lang, dk.n_tokens, al.full_epochs,
      |  dk.sample_key < al.rem_rate AS in_remainder,
      |  al.full_epochs +
      |    (CASE WHEN dk.sample_key < al.rem_rate THEN 1 ELSE 0 END) AS n_copies
      |FROM dk JOIN al USING (lang)
      |WHERE al.full_epochs +
      |    (CASE WHEN dk.sample_key < al.rem_rate THEN 1 ELSE 0 END) >= 1
      |ORDER BY doc_id""".stripMargin

  private val kmeansCteSql: String =
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |${kmeansBlocksSql("", 8, 3)}""".stripMargin

  /** NSW graph-ANN CTE chain (knn_graph / ann_recall_graph): the
    * shared unrolled-Lloyd cells, assignment WITH the distance (for
    * medoids), capped in-cell top-M directed edges + the medoid mesh
    * symmetrized, then the beam search UNROLLED per hop (entry =
    * probes × medoids; hop t prunes hop t−1's scored set to the beam,
    * expands along edges, re-scores; final = top-k over every scored
    * candidate). Ends at gfin(qid, rank, nid, cos_sim).
    */
  private val nswCtes: String = {
    val m = 6; val beam = 10; val hops = 3; val k = 5
    def cosExpr(a: String, b: String) =
      s"""list_sum(list_transform(range(1, len($a.v)+1),
         |      i -> $a.v[i]*$b.v[i])) / ($a.nrm * $b.nrm)""".stripMargin
    val hopBlocks = (1 to hops).map { t =>
      s"""gb${t - 1} AS (SELECT qid, nid FROM (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos_sim DESC, nid) AS rn FROM gs${t - 1}) WHERE rn <= $beam),
         |gc$t AS (SELECT DISTINCT qid, nid FROM (
         |  SELECT b.qid, ge.dst AS nid FROM gb${t - 1} b JOIN ge ON b.nid = ge.src
         |  UNION ALL SELECT qid, nid FROM gb${t - 1})),
         |gs$t AS (SELECT c.qid, c.nid, ${cosExpr("q", "x")} AS cos_sim
         |  FROM gc$t c JOIN n q ON q.vec_id = c.qid JOIN n x ON x.vec_id = c.nid
         |  WHERE c.qid <> c.nid)""".stripMargin
    }.mkString(",\n")
    val sqDist =
      """list_sum(list_transform(range(1, len(e.v)+1),
        |        i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i])))""".stripMargin
    s"""e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (SELECT vec_id, v,
       |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm
       |  FROM e),
       |${kmeansBlocksSql("", 8, 3)},
       |gasg AS (SELECT vec_id, cid, d FROM (
       |  SELECT e.vec_id, c.cid, $sqDist AS d,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      $sqDist ASC, c.cid ASC) AS rn
       |  FROM e CROSS JOIN c3 c) WHERE rn = 1),
       |gcap AS (SELECT cid FROM gasg GROUP BY cid
       |  HAVING count(*) <= ${graft.operators.Similarity.SemDedupCellCap}),
       |gic AS (SELECT src, dst FROM (
       |  SELECT x.vec_id AS src, y.vec_id AS dst,
       |    row_number() OVER (PARTITION BY x.vec_id
       |      ORDER BY ${cosExpr("nx", "ny")} DESC, y.vec_id ASC) AS rn
       |  FROM gasg x JOIN gcap ON x.cid = gcap.cid
       |  JOIN gasg y ON x.cid = y.cid AND x.vec_id <> y.vec_id
       |  JOIN n nx ON nx.vec_id = x.vec_id JOIN n ny ON ny.vec_id = y.vec_id)
       |  WHERE rn <= $m),
       |gmed AS (SELECT vec_id FROM (SELECT cid, vec_id,
       |  row_number() OVER (PARTITION BY cid ORDER BY d ASC, vec_id ASC) AS rn
       |  FROM gasg) WHERE rn = 1),
       |gdir AS (SELECT src, dst FROM gic
       |  UNION ALL SELECT a.vec_id, b.vec_id FROM gmed a JOIN gmed b
       |    ON a.vec_id <> b.vec_id),
       |ge AS (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM gdir UNION ALL SELECT dst, src FROM gdir)),
       |gc0 AS (SELECT q.vec_id AS qid, gmed.vec_id AS nid
       |  FROM e q CROSS JOIN gmed WHERE q.vec_id < 20),
       |gs0 AS (SELECT c.qid, c.nid, ${cosExpr("q", "x")} AS cos_sim
       |  FROM gc0 c JOIN n q ON q.vec_id = c.qid JOIN n x ON x.vec_id = c.nid
       |  WHERE c.qid <> c.nid),
       |$hopBlocks,
       |gall AS (SELECT DISTINCT qid, nid, cos_sim FROM (
       |  SELECT * FROM gs0 ${(1 to hops).map(t => s"UNION ALL SELECT * FROM gs$t").mkString(" ")})),
       |gfin AS (SELECT qid, CAST(rank AS BIGINT) AS rank, nid, cos_sim FROM (
       |  SELECT qid, nid, cos_sim, row_number() OVER (PARTITION BY qid
       |    ORDER BY cos_sim DESC, nid) AS rank FROM gall) WHERE rank <= $k)""".stripMargin
  }

  /** SemDeDup CTE chain: the shared unrolled-Lloyd cells, final
    * assignment, cos-to-own-centroid (dot and both norms as
    * list_sums — the ordered-fold association the Spark side
    * mirrors), τ=0.4 in-cell cosine edges, recursive component
    * closure over them (the dedup_clusters reach convention, base =
    * every vector so singletons self-label), and the survivor pick
    * (min cos_centroid, tie min vec_id — the paper's
    * least-prototypical exemplar).
    */
  private val semdedupCtes: String =
    s"""WITH RECURSIVE e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |${kmeansBlocksSql("", 8, 3)},
       |asg AS (SELECT vec_id, cid FROM (
       |  SELECT e.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      list_sum(list_transform(range(1, len(e.v)+1),
       |        i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))) ASC, c.cid ASC) AS rn
       |  FROM e CROSS JOIN c3 c) WHERE rn = 1),
       |cc AS (SELECT a.vec_id, a.cid,
       |  list_sum(list_transform(range(1, len(e.v)+1), i -> e.v[i]*c.cv[i]))
       |    / (sqrt(list_sum(list_transform(range(1, len(e.v)+1), i -> e.v[i]*e.v[i])))
       |       * sqrt(list_sum(list_transform(range(1, len(c.cv)+1), i -> c.cv[i]*c.cv[i]))))
       |    AS cos_centroid
       |  FROM asg a JOIN e USING (vec_id) JOIN c3 c ON a.cid = c.cid),
       |nn AS (SELECT vec_id, v,
       |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm
       |  FROM e),
       |cp AS (SELECT cid FROM asg GROUP BY cid
       |  HAVING count(*) <= ${graft.operators.Similarity.SemDedupCellCap}),
       |pp AS (SELECT x.vec_id AS ia, y.vec_id AS ib
       |  FROM asg x JOIN cp ON x.cid = cp.cid
       |  JOIN asg y ON x.cid = y.cid AND x.vec_id < y.vec_id
       |  JOIN nn na ON na.vec_id = x.vec_id JOIN nn nb ON nb.vec_id = y.vec_id
       |  WHERE list_sum(list_transform(range(1, len(na.v)+1),
       |    i -> na.v[i]*nb.v[i])) / (na.nrm * nb.nrm) >= 0.4),
       |ed AS (SELECT ia AS src, ib AS dst FROM pp
       |  UNION ALL SELECT ib, ia FROM pp),
       |reach(vec_id, lbl) AS (
       |  SELECT vec_id, vec_id FROM e
       |  UNION
       |  SELECT ed.src, r.lbl FROM ed JOIN reach r ON ed.dst = r.vec_id),
       |lab AS (SELECT vec_id, min(lbl) AS component_id FROM reach GROUP BY vec_id),
       |sz AS (SELECT vec_id, component_id,
       |  count(*) OVER (PARTITION BY component_id) AS component_size FROM lab),
       |sv AS (SELECT component_id, vec_id AS keep_id FROM (
       |  SELECT lab.component_id, lab.vec_id,
       |    row_number() OVER (PARTITION BY lab.component_id
       |      ORDER BY cc.cos_centroid ASC, lab.vec_id ASC) AS rn
       |  FROM lab JOIN cc USING (vec_id)) WHERE rn = 1)""".stripMargin

  /** Shared CTE chain for the product-quantization oracles: per
    * subspace i (8 subspaces × 8 dims over the 64-dim fixture), the
    * SAME unrolled-Lloyd recipe as [[kmeansCteSql]] on the sliced
    * subvector (k = 8 first-id seeds, 2 iterations, nano-unit means,
    * ordered distance folds, ties on centroid id), then the final
    * assignment f_i under codebook c{i}_2 carrying both the code and
    * the winning centroid (for ADC reconstruction) — the SQL twin of
    * Similarity.pqCodebooks/withPqCodes, generated per subspace the
    * same way the Scala side folds over them.
    */
  /** The per-subspace blocks with a NAME PREFIX and a parameterized
    * source CTE `$src(vec_id, v)` — serves the raw-vector chain
    * (prefix "", src "e": names e0/f0/c0_2/… unchanged) and r8's
    * residual chain (prefix "r", src "er"). Final assignments land in
    * `${p}f$i`.
    */
  private def pqBlocksSql(p: String, src: String): String = {
    val sub = 8; val kCodes = 8; val iters = 2
    def sq(s: String, cb: String) =
      s"""list_sum(list_transform(range(1, len($s.v)+1),
         |      j -> ($s.v[j]-$cb.cv[j])*($s.v[j]-$cb.cv[j])))""".stripMargin
    (0 until 8).map { i =>
      val iterBlocks = (1 to iters).map { t =>
        s"""${p}a${i}_$t AS MATERIALIZED (SELECT vec_id, cid FROM (
           |  SELECT s.vec_id, c.cid,
           |    row_number() OVER (PARTITION BY s.vec_id ORDER BY
           |      ${sq("s", "c")} ASC, c.cid ASC) AS rn
           |  FROM ${p}e$i s CROSS JOIN ${p}c${i}_${t - 1} c) WHERE rn = 1),
           |${p}m${i}_$t AS MATERIALIZED (SELECT a.cid, q.dim,
           |    CAST(SUM(q.q) AS DOUBLE)/1e9/count(*) AS mv
           |  FROM ${p}a${i}_$t a JOIN ${p}eq$i q USING (vec_id) GROUP BY a.cid, q.dim),
           |${p}c${i}_$t AS MATERIALIZED (SELECT p.cid, COALESCE(n.cv, p.cv) AS cv
           |  FROM ${p}c${i}_${t - 1} p LEFT JOIN (SELECT cid, list(mv ORDER BY dim) AS cv
           |    FROM ${p}m${i}_$t GROUP BY cid) n USING (cid))""".stripMargin
      }.mkString(",\n")
      s"""${p}e$i AS MATERIALIZED (SELECT vec_id, v[${i * sub + 1}:${(i + 1) * sub}] AS v FROM $src),
         |${p}eq$i AS MATERIALIZED (SELECT vec_id, u.i - 1 AS dim, CAST(round(u.x*1e9) AS BIGINT) AS q
         |  FROM (SELECT vec_id, unnest(list_transform(range(1, len(v)+1),
         |      j -> {'i': CAST(j AS BIGINT), 'x': v[j]})) AS u
         |    FROM ${p}e$i)),
         |${p}c${i}_0 AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM ${p}e$i WHERE vec_id < $kCodes),
         |$iterBlocks,
         |${p}f$i AS MATERIALIZED (SELECT vec_id, code, cv,
         |    CAST(floor(d * 1e9 + 0.5) AS BIGINT) AS sq_err_nano FROM (
         |  SELECT s.vec_id, c.cid AS code, c.cv,
         |    ${sq("s", "c")} AS d,
         |    row_number() OVER (PARTITION BY s.vec_id ORDER BY
         |      ${sq("s", "c")} ASC, c.cid ASC) AS rn
         |  FROM ${p}e$i s CROSS JOIN ${p}c${i}_$iters c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
  }

  private val pqCteSql: String =
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |${pqBlocksSql("", "e")}""".stripMargin

  /** Rotated source CTEs for the OPQ-style chain: eraw = the raw
    * doubles (named around pqBlocksSql's own e0..e7 subspace CTEs),
    * e = the randomized-Hadamard rotation y_i = Σ_j v_j ·
    * H(i,j)·s_j/8 re-cast through REAL (the float storage round-trip
    * Spark applies). H is REGENERATED here from bit parity —
    * bit_count(i & j) — not transcribed, and only the 64 md5 signs
    * embed (same generator-literal convention as the LSH planes).
    * Every coefficient is ±0.125 exactly, so the fold is
    * bit-identical in both engines.
    *
    * `e` is MATERIALIZED (r15 — the per-oracle timing table's first
    * catch): the rotation is a 64×64 fold per row and the downstream
    * pqBlocks/ivfPq chains reference `e` a dozen times, so DuckDB's
    * per-reference CTE re-inlining recomputed it each time —
    * ann_recall_ivf_pq_opq alone ran 94 s of the 183 s oracle gate,
    * opq_codes 25 s (the learned-rotation twin already carried the
    * hint; this chain predated the r14 MATERIALIZED sweep).
    */
  private val opqRotatedCteSql: String = {
    val signs = graft.operators.Similarity.opqSigns(64)
      .map(s => if (s > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
    s"""eraw AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |sgn AS (SELECT $signs AS sg),
       |e AS MATERIALIZED (SELECT vec_id, list_transform(range(0, 64), i ->
       |  CAST(CAST(COALESCE(list_sum(list_transform(range(0, least(len(v), 64)),
       |    j -> v[j + 1] * ((CASE WHEN bit_count(i & j) % 2 = 0
       |      THEN 1.0 ELSE -1.0 END) * sg[j + 1] * 0.125))), 0.0)
       |    AS REAL) AS DOUBLE)) AS v
       |  FROM eraw CROSS JOIN sgn)""".stripMargin
  }

  /** The knn_ivf_pq candidate chain — "g"-prefixed coarse Lloyd +
    * cell assignment + probe lists + ADC ranking, ending in `rk` —
    * shared verbatim by the search oracle and the r8 recall
    * evaluator's oracle. Assumes [[pqCteSql]]'s CTEs in scope.
    */
  /** Learned-rotation source CTEs (42h6): eraw = raw doubles, rot =
    * the dump-time-inlined trained matrix (opqLearnedRotLiteral), e =
    * the rotated frame re-cast through REAL (the float storage
    * round-trip Spark applies). Shared by the recall evaluator and
    * the r13 operating curve. LAZY because OpqLearnedRotPlaceholder
    * is declared later in this object — an eager val here would
    * interpolate null at object init (forward reference), which is
    * exactly how the first draft shipped `rot AS (SELECT null AS rm)`
    * into the dumped oracle.
    */
  private lazy val opqLearnedRotatedCteSql: String =
    s"""eraw AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |rot AS (SELECT $OpqLearnedRotPlaceholder AS rm),
      |e AS MATERIALIZED (SELECT vec_id, list_transform(range(0, 64), i ->
      |  CAST(CAST(COALESCE(list_sum(list_transform(range(0, 64),
      |    j -> v[j + 1] * rm[i + 1][j + 1])), 0.0)
      |    AS REAL) AS DOUBLE)) AS v
      |  FROM eraw CROSS JOIN rot)""".stripMargin

  /** The composed OPQ-IVFPQ oracles, shared VERBATIM by the
    * self-training keys and the r15 `_pretrained` twins: the apply
    * path under the trained artifact is bit-identical to the
    * self-training form by contract (spec frame-equality — the
    * bpe_encode_pretrained convention), so one SQL over the same
    * dump-time rotation literal checks both. LAZY for the same
    * forward-reference reason as [[opqLearnedRotatedCteSql]].
    */
  private lazy val knnIvfPqResidualOpqLearnedSql: String =
    s"""WITH $opqLearnedRotatedCteSql,
      |$ivfPqResidualSearchCtes
      |SELECT qid, rank, nid, adc_dist_nano FROM rk2
      |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  private lazy val annRecallIvfPqResidualOpqLearnedSql: String =
    s"""WITH $opqLearnedRotatedCteSql,
      |$ivfPqResidualSearchCtes,
      |ap AS (SELECT qid, nid FROM rk2 WHERE rank <= 5),
      |n AS (SELECT vec_id, v,
      |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm FROM eraw),
      |bs AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
      |  list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i]*c.v[i])) / (q.nrm * c.nrm) AS cos_sim
      |FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
      |br AS (SELECT qid, nid,
      |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM bs),
      |b AS (SELECT qid, nid FROM br WHERE rank <= 5),
      |h AS (SELECT b.qid, CAST(count(*) AS BIGINT) AS n_brute,
      |  CAST(sum(CASE WHEN ap.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      |FROM b LEFT JOIN ap ON b.qid = ap.qid AND b.nid = ap.nid GROUP BY 1),
      |nl AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_lsh FROM ap GROUP BY 1)
      |SELECT h.qid, n_brute, coalesce(n_lsh, CAST(0 AS BIGINT)) AS n_lsh, n_hit,
      |  CAST(n_hit AS DOUBLE) / 5.0 AS recall
      |FROM h LEFT JOIN nl ON h.qid = nl.qid ORDER BY h.qid""".stripMargin

  private val ivfPqSearchCtes: String =
    s"""${kmeansBlocksSql("g", 8, 3)},
      |cell AS MATERIALIZED (SELECT vec_id, cid FROM (
      |  SELECT e.vec_id, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_sum(list_transform(range(1, len(e.v)+1),
      |        i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))) ASC, c.cid ASC) AS rn
      |  FROM e CROSS JOIN gc3 c) WHERE rn = 1),
      |pl AS (SELECT vec_id AS qid, cid FROM (
      |  SELECT e.vec_id, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_sum(list_transform(range(1, len(e.v)+1),
      |        i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))) ASC, c.cid ASC) AS rn
      |  FROM e CROSS JOIN gc3 c WHERE e.vec_id < 20) WHERE rn <= 2),
      |rec AS MATERIALIZED (SELECT f0.vec_id,
      |  ${(0 until 8).map(i => s"f$i.cv").mkString(" || ")} AS rv
      |FROM f0 ${(1 until 8).map(i => s"JOIN f$i USING (vec_id)").mkString(" ")}),
      |pr AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
      |sc AS (SELECT pl.qid, cell.vec_id AS nid,
      |  CAST(floor(list_sum(list_transform(range(1, len(pr.qv)+1),
      |    j -> (pr.qv[j]-rec.rv[j])*(pr.qv[j]-rec.rv[j]))) * 1e9 + 0.5) AS BIGINT)
      |    AS adc_dist_nano
      |FROM pl JOIN cell ON cell.cid = pl.cid
      |JOIN rec ON rec.vec_id = cell.vec_id
      |JOIN pr ON pr.qid = pl.qid
      |WHERE pl.qid <> cell.vec_id),
      |rk AS (SELECT qid, nid, adc_dist_nano,
      |  CAST(row_number() OVER (PARTITION BY qid
      |    ORDER BY adc_dist_nano ASC, nid ASC) AS BIGINT) AS rank FROM sc)""".stripMargin

  /** The residual-encoded index build (r8, factored r14 for the
    * composed learned-rotation member): coarse "g"-prefixed Lloyd over
    * `e`, cell assignment, REAL-roundtripped residuals, "r"-prefixed
    * per-subspace Lloyd over the residuals, reconstruction `rrec`.
    * Assumes a CTE `e(vec_id, v)` in scope — the raw doubles for the
    * plain entries, the learned-rotated frame for the composed ones
    * (rotation preserves L2, so the chain is unchanged). LAZY: the
    * composed callers interpolate it next to the placeholder-carrying
    * rotated CTE (the SparkEntry object-init hazard).
    */
  private lazy val ivfPqResidualIndexCtes: String =
    s"""${kmeansBlocksSql("g", 8, 3)},
      |cell AS MATERIALIZED (SELECT vec_id, cid FROM (
      |  SELECT e.vec_id, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_sum(list_transform(range(1, len(e.v)+1),
      |        i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))) ASC, c.cid ASC) AS rn
      |  FROM e CROSS JOIN gc3 c) WHERE rn = 1),
      |er AS MATERIALIZED (SELECT e.vec_id,
      |    list_transform(range(1, len(e.v)+1),
      |      i -> CAST(CAST(e.v[i] - c.cv[i] AS REAL) AS DOUBLE)) AS v
      |  FROM e JOIN cell ON cell.vec_id = e.vec_id
      |  JOIN gc3 c ON c.cid = cell.cid),
      |${pqBlocksSql("r", "er")},
      |rrec AS MATERIALIZED (SELECT rf0.vec_id,
      |  ${(0 until 8).map(i => s"rf$i.cv").mkString(" || ")} AS rv
      |FROM rf0 ${(1 until 8).map(i => s"JOIN rf$i USING (vec_id)").mkString(" ")})""".stripMargin

  /** The residual SEARCH tail — probes take their 2 nearest cells, a
    * residual PER probed cell, ADC ranks within probed cells; ends in
    * `rk2`. Shared by knn_ivf_pq_residual and its learned-rotation
    * composition.
    */
  private lazy val ivfPqResidualSearchCtes: String =
    s"""$ivfPqResidualIndexCtes,
      |pl AS (SELECT vec_id AS qid, cid FROM (
      |  SELECT e.vec_id, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_sum(list_transform(range(1, len(e.v)+1),
      |        i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))) ASC, c.cid ASC) AS rn
      |  FROM e CROSS JOIN gc3 c WHERE e.vec_id < 20) WHERE rn <= 2),
      |prr AS (SELECT pl.qid, pl.cid,
      |    list_transform(range(1, len(e.v)+1),
      |      i -> CAST(CAST(e.v[i] - c.cv[i] AS REAL) AS DOUBLE)) AS qrv
      |  FROM pl JOIN e ON e.vec_id = pl.qid JOIN gc3 c ON c.cid = pl.cid),
      |sc2 AS (SELECT prr.qid, cell.vec_id AS nid,
      |  CAST(floor(list_sum(list_transform(range(1, len(prr.qrv)+1),
      |    j -> (prr.qrv[j]-rrec.rv[j])*(prr.qrv[j]-rrec.rv[j]))) * 1e9 + 0.5) AS BIGINT)
      |    AS adc_dist_nano
      |FROM prr JOIN cell ON cell.cid = prr.cid
      |JOIN rrec ON rrec.vec_id = cell.vec_id
      |WHERE prr.qid <> cell.vec_id),
      |rk2 AS (SELECT qid, nid, adc_dist_nano,
      |  CAST(row_number() OVER (PARTITION BY qid
      |    ORDER BY adc_dist_nano ASC, nid ASC) AS BIGINT) AS rank FROM sc2)""".stripMargin

  /** The residual CURVE tail — probe cells ranked to the widest grid
    * config with their rank kept (a residual per probed cell, so each
    * pair's ADC is fixed by the corpus row's one cell), one pair set,
    * then the shared grid fan-out scored against exact-cosine truth
    * over `truthSrc` ("e" raw, "eraw" for the composed member).
    */
  private def ivfPqResidualCurveTailSql(truthSrc: String): String =
    s"""$ivfPqResidualIndexCtes,
      |plr AS (SELECT vec_id AS qid, cid, CAST(rn AS BIGINT) AS min_crank FROM (
      |  SELECT e.vec_id, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_sum(list_transform(range(1, len(e.v)+1),
      |        i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))) ASC, c.cid ASC) AS rn
      |  FROM e CROSS JOIN gc3 c WHERE e.vec_id < 20) WHERE rn <= 8),
      |prr AS (SELECT plr.qid, plr.cid, plr.min_crank,
      |    list_transform(range(1, len(e.v)+1),
      |      i -> CAST(CAST(e.v[i] - c.cv[i] AS REAL) AS DOUBLE)) AS qrv
      |  FROM plr JOIN e ON e.vec_id = plr.qid JOIN gc3 c ON c.cid = plr.cid),
      |pairs AS (SELECT prr.qid, cell.vec_id AS nid, prr.min_crank,
      |  CAST(floor(list_sum(list_transform(range(1, len(prr.qrv)+1),
      |    j -> (prr.qrv[j]-rrec.rv[j])*(prr.qrv[j]-rrec.rv[j]))) * 1e9 + 0.5) AS BIGINT)
      |    AS adc_dist_nano
      |FROM prr JOIN cell ON cell.cid = prr.cid
      |JOIN rrec ON rrec.vec_id = cell.vec_id
      |WHERE prr.qid <> cell.vec_id),
      |${curveGridTailSql(truthSrc)}""".stripMargin

  /** Covariance CTE chain shared by the PCA-family oracles: per-row
    * linear/product terms nano-quantized to BIGINTs before the group
    * sums (order-independent — the centroid-mean discipline applied
    * to second moments), cov assembled with the same division and
    * subtraction association as Similarity.covariance.
    */
  private val pcaCovCteSql: String =
    """WITH e AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |g AS MATERIALIZED (SELECT vec_id, u.i AS i, u.x AS x
      |  FROM (SELECT vec_id, unnest(list_transform(range(1, len(v)+1),
      |      i -> {'i': i - 1, 'x': v[i]})) AS u FROM e)),
      |mm AS MATERIALIZED (SELECT i,
      |    CAST(SUM(CAST(round(x * 1e9) AS BIGINT)) AS DOUBLE)/1e9/count(*) AS mean_v
      |  FROM g GROUP BY i),
      |p AS (SELECT a.i AS di, b.i AS dj,
      |    SUM(CAST(round(a.x * b.x * 1e9) AS BIGINT)) AS s, count(*) AS n
      |  FROM g a JOIN g b ON a.vec_id = b.vec_id AND b.i >= a.i
      |  GROUP BY 1, 2),
      |cvt AS MATERIALIZED (SELECT p.di, p.dj, p.n, ma.mean_v AS mean_i, mb.mean_v AS mean_j,
      |    CAST(p.s AS DOUBLE)/1e9/p.n - ma.mean_v * mb.mean_v AS cov
      |  FROM p JOIN mm ma ON ma.i = p.di JOIN mm mb ON mb.i = p.dj)""".stripMargin

  /** Adds `iters` unrolled power-iteration steps over the full
    * (mirrored) covariance matrix — each matvec row and each norm an
    * ordered list_sum fold, sqrt the one IEEE-correctly-rounded
    * transcendental — the SQL twin of Similarity.powerIteration from
    * the all-ones start vector, ending in CTE v`iters`.
    */
  /** `iters` power-iteration steps reading matrix rows `${p}cr` and
    * start vector `${p}v0`, ending in `${p}v<iters>` — prefix `p`
    * lets the deflated second-component chain reuse the generator.
    */
  private def powerIterSql(p: String, iters: Int): String =
    (1 to iters).map { t =>
      s"""${p}w$t AS MATERIALIZED (SELECT cr.i, list_sum(list_transform(range(1, len(cr.r)+1),
         |    j -> cr.r[j] * ${p}v${t - 1}.v[j])) AS w FROM ${p}cr cr, ${p}v${t - 1}),
         |${p}wl$t AS MATERIALIZED (SELECT list(w ORDER BY i) AS w FROM ${p}w$t),
         |${p}n$t AS MATERIALIZED (SELECT w, sqrt(list_sum(list_transform(w, x -> x*x))) AS nrm FROM ${p}wl$t),
         |${p}v$t AS MATERIALIZED (SELECT CASE WHEN nrm = 0 THEN (SELECT v FROM ${p}v${t - 1})
         |    ELSE list_transform(w, x -> x/nrm) END AS v FROM ${p}n$t)""".stripMargin
    }.mkString(",\n")

  /** Rayleigh eigenvalue of the `${p}` chain's final vector:
    * `${p}lam` = v·Cv over the same ordered folds.
    */
  private def rayleighSql(p: String, iters: Int): String =
    s"""${p}cvf AS MATERIALIZED (SELECT cr.i, list_sum(list_transform(range(1, len(cr.r)+1),
       |    j -> cr.r[j] * ${p}v$iters.v[j])) AS w FROM ${p}cr cr, ${p}v$iters),
       |${p}cvl AS MATERIALIZED (SELECT list(w ORDER BY i) AS w FROM ${p}cvf),
       |${p}lam AS MATERIALIZED (SELECT list_sum(list_transform(range(1, len(v.v)+1),
       |    i -> v.v[i] * c.w[i])) AS l FROM ${p}v$iters v, ${p}cvl c)""".stripMargin

  private def pcaCteSql(iters: Int): String =
    s"""$pcaCovCteSql,
       |fc AS MATERIALIZED (SELECT di AS i, dj AS j, cov FROM cvt
       |  UNION ALL SELECT dj, di, cov FROM cvt WHERE di <> dj),
       |cr AS MATERIALIZED (SELECT i, list(cov ORDER BY j) AS r FROM fc GROUP BY i),
       |v0 AS MATERIALIZED (SELECT list_transform(range(1, (SELECT count(*) FROM cr) + 1),
       |  x -> 1.0) AS v),
       |${powerIterSql("", iters)}""".stripMargin

  /** `trainRestrict` narrows the pair join's TRAIN side (the
    * incremental entry passes the batch predicate); df cap and eval
    * side always span every document — exactly the Scala core's
    * contract.
    */
  private def decontaminateSqlFor(trainRestrict: String): String =
    s"""WITH t AS (SELECT doc_id,
      |  ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 10 AS b,
      |  string_split(lower(trim(text)), ' ') AS tk FROM documents),
      |g AS (SELECT doc_id, b,
      |  unnest(list_distinct(list_transform(range(1, greatest(len(tk)-6, 1)),
      |    i -> ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 1, 15))::BIGINT))) AS g8
      |FROM t),
      |r AS (SELECT g8 FROM g GROUP BY g8 HAVING count(*) <= 1000)
      |SELECT a.doc_id AS train_doc, c.doc_id AS eval_doc, count(*) AS n_shared_grams
      |FROM g a JOIN g c ON a.g8 = c.g8 AND a.b < 8 AND c.b >= 8
      |WHERE $trainRestrict a.g8 IN (SELECT g8 FROM r)
      |GROUP BY 1, 2 ORDER BY train_doc, eval_doc""".stripMargin

  private val decontaminateSql: String = decontaminateSqlFor("")

  /** Shared ExactSubstr CTE chain: positional n-grams (parallel
    * unnests zip), duplicated-gram set (count >= 2 over EVERY row),
    * gaps-and-islands span merge. `restrict` narrows the emitted
    * positions (the incremental entry passes the batch predicate);
    * duplication is always counted corpus-wide. Gram width and
    * min-span render [[TextOps.SpanGramN]], the operators' default.
    */
  private def repeatedSpansCteFor(restrict: String): String = {
    val n = TextOps.SpanGramN
    s"""t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk FROM documents),
      |g AS (SELECT doc_id,
      |  unnest(range(1, greatest(len(tk)-${n - 2}, 1))) AS pos,
      |  unnest(list_transform(range(1, greatest(len(tk)-${n - 2}, 1)),
      |    i -> ('0x' || substr(md5(array_to_string(tk[i:i+${n - 1}], ' ')), 1, 15))::BIGINT)) AS g8
      |FROM t),
      |d AS (SELECT g8 FROM g GROUP BY g8 HAVING count(*) >= 2),
      |p AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos FROM g
      |  WHERE g8 IN (SELECT g8 FROM d) $restrict),
      |l AS (SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM p),
      |i AS (SELECT doc_id, pos,
      |  sum(CASE WHEN prev IS NULL OR pos - prev > $n THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM l),
      |s AS (SELECT doc_id, min(pos) AS span_start, max(pos) + ${n - 1} AS span_end,
      |  max(pos) + ${n - 1} - min(pos) + 1 AS n_span_tokens,
      |  CAST(count(*) AS BIGINT) AS n_dup_grams
      |  FROM i GROUP BY doc_id, isl)""".stripMargin
  }

  private def repeatedSpansSqlFor(restrict: String): String =
    s"""WITH ${repeatedSpansCteFor(restrict)}
      |SELECT doc_id, span_start, span_end, n_span_tokens, n_dup_grams
      |FROM s WHERE n_span_tokens >= ${TextOps.SpanGramN}
      |ORDER BY doc_id, span_start""".stripMargin

  private def repeatedSpansSql: String = repeatedSpansSqlFor("")

  // scrub: kept positions = those inside no span; a fully-scrubbed doc
  // joins to '' (DuckDB array_to_string of an empty list is NULL,
  // Spark array_join is '') — hence the coalesce.
  private def repeatedSpanScrubSql: String =
    s"""WITH ${repeatedSpansCteFor("")},
      |k AS (SELECT doc_id, list(struct_pack(s := span_start, e := span_end)) AS spans
      |  FROM s WHERE n_span_tokens >= ${TextOps.SpanGramN} GROUP BY doc_id),
      |r AS (SELECT t.doc_id, t.tk, coalesce(k.spans, []) AS spans
      |  FROM t LEFT JOIN k USING (doc_id)),
      |f AS (SELECT doc_id, tk, len(spans) AS n_spans,
      |  list_filter(range(1, len(tk)+1), i ->
      |    len(list_filter(spans, sp -> i >= sp.s AND i <= sp.e)) = 0) AS kept
      |  FROM r)
      |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
      |  CAST(n_spans AS BIGINT) AS n_spans,
      |  CAST(len(tk) - len(kept) AS BIGINT) AS n_removed_tokens,
      |  coalesce(array_to_string(list_transform(kept, i -> tk[i]), ' '), '') AS scrubbed_text
      |FROM f ORDER BY doc_id""".stripMargin

  /** The 64 disjoint-bit fingerprint terms, generated by the SAME
    * index arithmetic as the Spark expression (bit 63 is the negative
    * BIGINT literal — DuckDB parses it as HUGEINT, the cast brings it
    * back; disjoint bits OR without carry concerns).
    */
  private val audioFpTermsSql: String = (0 until 64).map { i =>
    val s = (i / 8) * 9 + (i % 8)
    s"(CASE WHEN vs[${s + 2}] > vs[${s + 1}] THEN (${1L << i})::BIGINT ELSE 0::BIGINT END)"
  }.mkString(" | ")

  /** Shared fingerprint CTE chain ending in
    * f(doc_id, n_windows, window_idx, fp).
    */
  private val audioFpCteSql: String =
    s"""t AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes, hex(encode(text)) AS hx FROM documents),
      |w AS (SELECT doc_id, n_bytes, hx,
      |  (n_bytes*37 % 50000 + 1000) AS duration_ms FROM t),
      |w2 AS (SELECT doc_id, n_bytes, hx,
      |  CAST((duration_ms + 9999) // 10000 AS BIGINT) AS n_windows FROM w),
      |e AS (SELECT doc_id, n_bytes, hx, n_windows,
      |  unnest(range(0, n_windows)) AS window_idx FROM w2),
      |v AS (SELECT doc_id, n_windows, window_idx,
      |  list_transform(range(0, 72), s ->
      |    CASE WHEN n_bytes = 0 THEN 0 ELSE
      |      ('0x' || substr(hx, CAST(((window_idx*73 + s*7) % n_bytes)*2 + 1 AS INT), 2))::INT END) AS vs
      |  FROM e),
      |f AS (SELECT doc_id, CAST(n_windows AS BIGINT) AS n_windows,
      |  CAST(window_idx AS BIGINT) AS window_idx, ($audioFpTermsSql) AS fp FROM v)""".stripMargin

  private val audioFingerprintsSql: String =
    s"""WITH $audioFpCteSql
      |SELECT doc_id, n_windows, window_idx, fp FROM f
      |ORDER BY doc_id, window_idx""".stripMargin

  private val audioNearDupSql: String =
    s"""WITH $audioFpCteSql,
      |b AS (SELECT fp FROM f GROUP BY fp HAVING count(*) > 1 AND count(*) <= ${Dedup.BandBucketCap}),
      |j AS (SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, a.window_idx - c.window_idx AS delta
      |  FROM f a JOIN f c ON a.fp = c.fp AND a.doc_id < c.doc_id
      |  WHERE a.fp IN (SELECT fp FROM b)),
      |d AS (SELECT doc_a, doc_b, delta, count(*) AS n FROM j GROUP BY 1, 2, 3),
      |m AS (SELECT doc_a, doc_b, CAST(sum(n) AS BIGINT) AS n_fp_matches, max(n) AS mx
      |  FROM d GROUP BY 1, 2)
      |SELECT m.doc_a AS doc_a, m.doc_b AS doc_b, m.n_fp_matches,
      |  CAST(m.mx AS BIGINT) AS n_aligned, min(d.delta) AS best_delta
      |FROM m JOIN d ON d.doc_a = m.doc_a AND d.doc_b = m.doc_b AND d.n = m.mx
      |WHERE m.mx >= ${Multimodal.AudioMinAligned}
      |GROUP BY 1, 2, 3, 4 ORDER BY doc_a, doc_b""".stripMargin

  private def repeatedSpansSummarySql: String =
    s"""WITH ${repeatedSpansCteFor("")},
      |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans, sum(n_span_tokens) AS n_dup
      |  FROM s WHERE n_span_tokens >= ${TextOps.SpanGramN} GROUP BY doc_id)
      |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_spans,
      |  CAST(sum(len(string_split(lower(trim(d.text)), ' '))) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(sum(a.n_dup), 0) AS BIGINT) AS n_dup_tokens,
      |  CAST(coalesce(sum(a.n_dup), 0) AS DOUBLE)
      |    / sum(len(string_split(lower(trim(d.text)), ' '))) AS dup_token_share
      |FROM documents d LEFT JOIN a USING (doc_id) GROUP BY 1 ORDER BY source""".stripMargin

  // the drop fraction renders TextOps.GateDropFraction via toString,
  // the identical decimal both engines parse to the same double
  private def qualityGateSql: String = {
    val f = TextOps.GateDropFraction
    s"""WITH s AS (SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS tk
      |  FROM documents),
      |sc AS (SELECT doc_id, lang,
      |  CAST(len(tk) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct_tokens,
      |  CAST(floor(1e6 * len(list_distinct(tk)) / len(tk) + 0.5) AS BIGINT) AS score_micro
      |FROM s),
      |h AS (SELECT lang, score_micro, count(*) AS n FROM sc GROUP BY 1, 2),
      |c AS (SELECT lang, score_micro,
      |  sum(n) OVER (PARTITION BY lang ORDER BY score_micro) AS cum,
      |  sum(n) OVER (PARTITION BY lang) AS total FROM h),
      |t AS (SELECT lang, min(score_micro) AS threshold_micro FROM c
      |  WHERE cum > floor($f * total) GROUP BY lang)
      |SELECT sc.doc_id, sc.lang, sc.n_tokens, sc.n_distinct_tokens,
      |  sc.score_micro, t.threshold_micro,
      |  sc.score_micro >= t.threshold_micro AS kept
      |FROM sc JOIN t USING (lang) ORDER BY sc.doc_id""".stripMargin
  }

  /** The four quality-signal CTE chains (tokens/normalized text,
    * Gopher rules, trigram repetition, char entropy, TTR scores +
    * relative-gate threshold) — shared by the verdict oracle and the
    * curation pipeline's oracle, each restating its source oracle
    * verbatim. `sc` carries n_tokens for the curate oracle's budget
    * stage; the verdict's final select simply doesn't read it. The
    * gate fraction is [[TextOps.GateDropFraction]], the default the
    * verdict/curate operators compose qualityGate at.
    */
  private val verdictCtes: String =
    s"""t AS (SELECT doc_id, lang, text, lower(trim(text)) AS nt,
      |  string_split(lower(trim(text)), ' ') AS tk FROM documents),
      |gq AS (SELECT doc_id,
      |  (CAST(len(tk) AS BIGINT) BETWEEN 50 AND 100000)
      |  AND (CAST(length(replace(nt, ' ', '')) AS DOUBLE) / len(tk) BETWEEN 3.0 AND 10.0)
      |  AND ((length(text) - length(replace(text, '#', ''))) +
      |    (length(text) - length(replace(text, '...', ''))) / 3) / len(tk) <= 0.1
      |  AND CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(tk) >= 0.8
      |  AND CAST(len(list_filter(tk, x -> x IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) >= 2
      |  AS gopher_keep FROM t),
      |rp0 AS (SELECT doc_id,
      |  list_transform(tk, tok -> ('0x' || substr(md5(tok), 1, 7))::BIGINT) AS tm FROM t),
      |rp1 AS (SELECT doc_id,
      |  list_transform(range(1, greatest(len(tm)-1, 1)),
      |    i -> ((tm[i]*268435456 + tm[i+1]) % 2147483647) * 268435456 + tm[i+2]) AS g3
      |FROM rp0),
      |rp AS (SELECT doc_id,
      |  1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)/len(g3) > 0.2 AS is_repetitive FROM rp1),
      |e0 AS (SELECT doc_id, list_transform(range(1, length(nt)+1),
      |  i -> substr(nt, i, 1)) AS cs FROM t),
      |e1 AS (SELECT doc_id, cs, list_sort(list_distinct(cs)) AS dc FROM e0),
      |e2 AS (SELECT doc_id, len(cs) AS n_chars,
      |  list_transform(dc, ch -> CAST(len(list_filter(cs, x -> x = ch)) AS BIGINT)) AS counts
      |FROM e1),
      |en AS (SELECT doc_id, CAST(floor((log2(CAST(n_chars AS DOUBLE)) -
      |    list_sum(list_transform(counts, c -> c * log2(CAST(c AS DOUBLE)))) / n_chars)
      |    * 1000000 + 0.5) AS BIGINT) AS em FROM e2),
      |sc AS (SELECT doc_id, lang, CAST(len(tk) AS BIGINT) AS n_tokens,
      |  CAST(floor(1e6 * len(list_distinct(tk)) / len(tk) + 0.5) AS BIGINT) AS score_micro
      |FROM t),
      |h AS (SELECT lang, score_micro, count(*) AS n FROM sc GROUP BY 1, 2),
      |c AS (SELECT lang, score_micro,
      |  sum(n) OVER (PARTITION BY lang ORDER BY score_micro) AS cum,
      |  sum(n) OVER (PARTITION BY lang) AS total FROM h),
      |th AS (SELECT lang, min(score_micro) AS threshold_micro FROM c
      |  WHERE cum > floor(${TextOps.GateDropFraction} * total) GROUP BY lang)""".stripMargin

  // Quality classifier (Classifier.scala): base CTEs = the verdict
  // label (verdictCtes restated — the corpus_curate composition) +
  // engine-exact features; then `clfIters` unrolls the SAME gradient-
  // descent iterations the engine runs (the kmeans Lloyd-unroll
  // pattern). Every arithmetic step mirrors the Scala association:
  // left-assoc +-chain margin, fast-sigmoid 0.5*(1+z/(1+abs(z))),
  // ((err*xj)*1e9) nano-rounding, w - 0.01*(g/1e9) updates.
  private val clfBase: String =
    s"""$verdictCtes,
      |vd AS (SELECT g.doc_id,
      |  g.gopher_keep AND NOT r.is_repetitive
      |    AND (e.em BETWEEN 1000000 AND 6000000)
      |    AND sc.score_micro >= th.threshold_micro AS keep
      |FROM gq g JOIN rp r USING (doc_id) JOIN en e USING (doc_id)
      |JOIN sc USING (doc_id) JOIN th ON sc.lang = th.lang),
      |cf AS (SELECT doc_id,
      |  1.0 AS x0,
      |  CAST(length(text) AS DOUBLE) / 100 AS x1,
      |  CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) / 10 AS x2,
      |  CAST(length(text) AS DOUBLE) /
      |    CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS x3,
      |  CASE WHEN length(text) > 0
      |    THEN CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
      |         / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS x4
      |FROM documents),
      |ft AS (SELECT cf.*, CASE WHEN vd.keep THEN 1.0 ELSE 0.0 END AS y
      |  FROM cf JOIN vd USING (doc_id))""".stripMargin

  private def clfIters(n: Int): String = {
    val sb = new StringBuilder
    for (i <- 1 to n) {
      def wref(j: Int): String = if (i == 1) "0.0" else s"w.w$j"
      val z = (0 to 4).map(j => s"${wref(j)} * x$j").mkString(" + ")
      val zFrom = if (i == 1) "ft f" else s"ft f CROSS JOIN w${i - 1} w"
      sb.append(s",\nz$i AS (SELECT f.*, ($z) AS z FROM $zFrom)")
      sb.append(s",\ng$i AS (SELECT " + (0 to 4).map(j =>
        s"sum(CAST(round((0.5*(1 + z/(1+abs(z))) - y) * x$j * 1e9) AS BIGINT)) AS g$j")
        .mkString(", ") + s" FROM z$i)")
      val gFrom = if (i == 1) s"g$i" else s"g$i CROSS JOIN w${i - 1} w"
      sb.append(s",\nw$i AS (SELECT " + (0 to 4).map(j =>
        s"${wref(j)} - 0.01 * (CAST(g$j AS DOUBLE)/1e9) AS w$j").mkString(", ") +
        s" FROM $gFrom)")
    }
    sb.toString
  }

  // Budget selection (shared by the one-shot and the batch-staged
  // incremental entry — histogram merge associativity means both must
  // produce byte-identical output): greedy per-language from the top
  // score bucket down, bucket-grain, pure integer logic over the same
  // micro-unit scores as quality_gate_relative. A lang whose top
  // bucket alone overshoots has no threshold row -> kept = false.
  // HLL summary over the md5-derived register table; the incremental
  // entry reuses the same chain without the exact-count column (its
  // state deliberately never carries exact counts). Bit-length via
  // length(bin(x)) — pure integer/string, no float rounding anywhere
  // in the registers; the published estimate micro-quantizes the one
  // log the linear-counting branch takes.
  private def vocabHllSql(withExact: Boolean): String = {
    val exactCol = if (withExact)
      ",\n  (SELECT CAST(count(DISTINCT token) AS BIGINT) FROM tk) AS n_exact"
    else ""
    s"""WITH tk AS (SELECT unnest(string_split(lower(trim(text)), ' ')) AS token
       |  FROM documents),
       |h AS (SELECT (('0x' || substr(md5(token), 1, 15))::BIGINT) AS h FROM tk),
       |br AS (SELECT h >> 52 AS bucket, h & 4503599627370495 AS rem FROM h),
       |rk AS (SELECT bucket,
       |  CASE WHEN rem = 0 THEN 53 ELSE 53 - length(bin(rem)) END AS rank FROM br),
       |reg AS (SELECT bucket, CAST(max(rank) AS BIGINT) AS max_rank FROM rk GROUP BY 1),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_nonzero,
       |  CAST(sum(9007199254740992 >> CAST(max_rank AS INT)) AS BIGINT) AS d_obs FROM reg),
       |d AS (SELECT CAST(256 AS BIGINT) AS m, n_nonzero,
       |  coalesce(d_obs, 0) + (256 - n_nonzero) * 9007199254740992 AS denom_scaled FROM agg),
       |e AS (SELECT m, n_nonzero, denom_scaled,
       |  0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0
       |    / CAST(denom_scaled AS DOUBLE) AS raw
       |FROM d)
       |SELECT m, n_nonzero, denom_scaled,
       |  CAST(floor((CASE WHEN (256 - n_nonzero) > 0 AND raw <= 640.0
       |    THEN 256.0 * log2(256.0 / CAST(256 - n_nonzero AS DOUBLE)) * 0.6931471805599453
       |    ELSE raw END) * 1000000.0 + 0.5) AS BIGINT) AS est_micro$exactCol
       |FROM e""".stripMargin
  }

  // One-shot source-overlap matrix — shared with its incremental
  // entry (set-union associativity + idempotence means the
  // continuation must produce byte-identical output).
  private val sourceOverlapSql: String =
    s"""WITH e AS (SELECT source, unnest(string_split(lower(trim(text)), ' ')) AS term
         |  FROM documents),
         |v AS (SELECT DISTINCT source, term FROM e),
         |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
         |p AS (SELECT a.source AS source_a, b.source AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_common
         |FROM v a JOIN v b USING (term) WHERE a.source < b.source GROUP BY 1, 2)
         |SELECT source_a, source_b, n_common, sa.n AS n_a, sb.n AS n_b,
         |  CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
         |FROM p JOIN sz sa ON p.source_a = sa.source JOIN sz sb ON p.source_b = sb.source
         |ORDER BY source_a, source_b""".stripMargin

  // One-shot Zipf fit — shared by corpus_zipf_slope and its
  // incremental entry (vocabulary-sum associativity means the
  // continuation must produce byte-identical output).
  private val zipfSlopeSql: String =
    """WITH e AS (SELECT lang, unnest(string_split(lower(trim(text)), ' ')) AS term
      |  FROM documents),
      |v AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS freq FROM e GROUP BY 1, 2),
      |r AS (SELECT lang, freq,
      |  CAST(row_number() OVER (PARTITION BY lang ORDER BY freq DESC, term) AS BIGINT) AS rnk
      |FROM v),
      |xy AS (SELECT lang,
      |  CAST(floor(log2(CAST(rnk AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x,
      |  CAST(floor(log2(CAST(freq AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y
      |FROM r WHERE rnk <= 30),
      |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_terms,
      |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |  CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      |FROM xy GROUP BY 1)
      |SELECT lang, n_terms,
      |  CAST(n_terms * sxy - sx * sy AS DOUBLE) / CAST(n_terms * sxx - sx * sx AS DOUBLE) AS slope,
      |  (sy - sx * (CAST(n_terms * sxy - sx * sy AS DOUBLE) / CAST(n_terms * sxx - sx * sx AS DOUBLE)))
      |    / CAST(n_terms AS DOUBLE) AS intercept_micro
      |FROM a ORDER BY lang""".stripMargin

  // One-shot A-Res priority sample — shared by corpus_priority_sample
  // and its incremental entry (reservoir merge associativity means the
  // continuation must produce byte-identical output).
  private val prioritySampleSql: String =
    """WITH s0 AS (SELECT doc_id, source, lang,
      |  CAST(CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 0.9
      |    WHEN CAST(substr(source, 4) AS INT) < 10 THEN 0.5
      |    WHEN CAST(substr(source, 4) AS INT) < 15 THEN 0.25
      |    ELSE 0.1 END AS DOUBLE) AS weight,
      |  (('0x' || substr(md5('ares:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT * 2 + 1)
      |    / CAST(536870912 AS DOUBLE) AS u
      |FROM documents),
      |s AS (SELECT doc_id, source, lang, weight,
      |  CAST(floor(log2(u) / weight * 1000000 + 0.5) AS BIGINT) AS priority_micro FROM s0),
      |t AS (SELECT * FROM s ORDER BY priority_micro DESC, doc_id LIMIT 25)
      |SELECT CAST(row_number() OVER (ORDER BY priority_micro DESC, doc_id) AS BIGINT) AS rank,
      |  doc_id, source, lang, weight, priority_micro
      |FROM t ORDER BY rank""".stripMargin

  private val selectBudgetSql: String =
    """WITH sc AS (SELECT doc_id, lang,
      |  CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_tokens,
      |  CAST(floor(1e6 * len(list_distinct(string_split(lower(trim(text)), ' ')))
      |    / len(string_split(lower(trim(text)), ' ')) + 0.5) AS BIGINT) AS score_micro
      |FROM documents),
      |h AS (SELECT lang, score_micro, sum(n_tokens) AS bucket_tokens
      |  FROM sc GROUP BY 1, 2),
      |c AS (SELECT lang, score_micro,
      |  sum(bucket_tokens) OVER (PARTITION BY lang ORDER BY score_micro DESC) AS cum_tokens
      |FROM h),
      |th AS (SELECT lang, min(score_micro) AS threshold_micro FROM c
      |  WHERE cum_tokens <= 2000 GROUP BY lang)
      |SELECT sc.doc_id, sc.lang, sc.n_tokens, sc.score_micro, th.threshold_micro,
      |  th.threshold_micro IS NOT NULL AND sc.score_micro >= th.threshold_micro AS kept
      |FROM sc LEFT JOIN th USING (lang) ORDER BY sc.doc_id""".stripMargin

  /** Placeholder the BPE apply-surface oracles carry in [[oracleSql]];
    * Verify resolves it to the trained dictionary via [[bpeDictValues]]
    * before dumping oracle_sql.json (the training fold itself is not
    * SQL-expressible, but the apply step given the dictionary is).
    */
  val BpeDictPlaceholder: String = "/*BPE_DICT*/"

  /** The trained word→symbols dictionary rendered as DuckDB VALUES
    * rows `(word, syms, n_syms)` — same fixture, same nMerges=8 as the
    * bpe_* query entries, rows sorted by word, quotes SQL-escaped.
    * Vocabulary-scale (the dictionary is the bounded artifact BPE
    * training exists to produce), so inlining is cheap at any SF the
    * verify gate runs.
    */
  def bpeDictValues(spark: SparkSession, sfDir: String): String = {
    val (_, words) = Bpe.train(t(spark, sfDir, "documents"), nMerges = 8)
    val values = dictValues(words, "syms")
    org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(words)
    values
  }

  /** One trained dictionary as DuckDB VALUES rows
    * `('word', 'sym sym …', CAST(n AS BIGINT))`: `words` carries
    * `word` and the string-array column `syms`; rows sorted by word,
    * quotes SQL-escaped.
    */
  private def dictValues(words: DataFrame, syms: String): String = {
    import org.apache.spark.sql.functions.{col, concat_ws, size}
    val rows = words.select(col("word"), concat_ws(" ", col(syms)),
        size(col(syms)).cast("long"))
      .orderBy("word").collect()
    def esc(x: String) = x.replace("'", "''")
    // empty corpus → VALUES needs at least one row to parse; the
    // empty-string word can never join (words are non-empty by filter)
    if (rows.isEmpty) "('', '', CAST(0 AS BIGINT))"
    else rows.map(r => s"('${esc(r.getString(0))}', '${esc(r.getString(1))}', " +
        s"CAST(${r.getLong(2)} AS BIGINT))")
      .mkString(", ")
  }

  /** The BYTE-LEVEL twin of [[BpeDictPlaceholder]] (r14): word →
    * byte-level trained symbols under `train(byteLevel = true)` —
    * same training-vs-apply oracle boundary; symbols are pure-ASCII
    * `<0xNN>` tokens, so VALUES inlining needs no extra escaping.
    */
  val BpeBytesDictPlaceholder: String = "/*BPE_BYTES_DICT*/"

  def bpeBytesDictValues(spark: SparkSession, sfDir: String): String = {
    val (_, words) =
      Bpe.train(t(spark, sfDir, "documents"), nMerges = 8, byteLevel = true)
    val values = dictValues(words, "syms")
    org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(words)
    values
  }

  /** The BATCHED-trainer twin of [[BpeDictPlaceholder]] (r14 VERDICT
    * #1): word → symbols under `trainBatched(nMerges = 8, batchK = 4)`
    * — same training-vs-apply oracle boundary; the batched schedule's
    * dictionary is resolved at dump time so bpe_encode_batched is a
    * FULL hash-checked oracle entry even where the batched table
    * diverges from the unbatched one.
    */
  val BpeBatchedDictPlaceholder: String = "/*BPE_BATCHED_DICT*/"

  def bpeBatchedDictValues(spark: SparkSession, sfDir: String): String = {
    val (_, words, _) =
      Bpe.trainBatched(t(spark, sfDir, "documents"), nMerges = 8, batchK = 4)
    val values = dictValues(words, "syms")
    org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(words)
    values
  }

  /** The unigram-LM twin of [[BpeDictPlaceholder]]: the trained
    * word → Viterbi-piece-count dictionary, resolved at dump time.
    * Training (hard-EM over a sequential DP) is not SQL-expressible,
    * but GIVEN this vocabulary-scale table the apply step is — the
    * same training-vs-apply oracle boundary the BPE family draws.
    */
  val UnigramDictPlaceholder: String = "/*UNIGRAM_DICT*/"

  def unigramDictValues(spark: SparkSession, sfDir: String): String =
    // (word, syms, n_pieces) — the syms column serves unigram_encode's
    // positional reassembly, n_pieces serves unigram_token_counts;
    // one trained dictionary feeds both oracles (the bpeDictValues
    // 3-column shape)
    dictValues(UnigramLm.wordPieces(t(spark, sfDir, "documents")), "pieces")

  /** The SOFT-EM twin of [[UnigramDictPlaceholder]] (r13 VERDICT #7 —
    * the soft-EM trainer wired to the full pipeline surface): word →
    * Viterbi pieces under a piece table trained with forward–backward
    * EXPECTED counts (`softEm = true`). Same training-vs-apply oracle
    * boundary: the soft E-step is not SQL-expressible, but GIVEN the
    * trained dictionary the per-doc reassembly is — which makes the
    * end-to-end soft-EM encode a FULL hash-checked oracle entry.
    */
  val UnigramSoftDictPlaceholder: String = "/*UNIGRAM_SOFT_DICT*/"

  def unigramSoftDictValues(spark: SparkSession, sfDir: String): String = {
    val docs = t(spark, sfDir, "documents")
    dictValues(UnigramLm.wordPiecesWith(docs, UnigramLm.train(docs, softEm = true)),
      "pieces")
  }

  /** The learned OPQ rotation's dump-time literal — a nested DuckDB
    * list `[[r00, r01, …], …]` of the 64×64 matrix
    * [[Similarity.opqLearnedRotationRows]] trains on the SAME fixture
    * the query ran (training is deterministic driver math, so the
    * re-train reproduces Spark's matrix bit-for-bit;
    * java.lang.Double.toString round-trips every entry exactly).
    */
  val OpqLearnedRotPlaceholder: String = "/*OPQ_LEARNED_ROT*/"

  def opqLearnedRotLiteral(spark: SparkSession, sfDir: String): String =
    Similarity.opqLearnedRotationRows(t(spark, sfDir, "embeddings"))
      .map(_.map(_.toString).mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")

  // The four tokenizer apply-surface oracles, shared verbatim by the
  // self-training and _pretrained registry keys: the pre-trained apply
  // is bit-identical to the self-training form by contract (spec
  // frame-equality), so one SQL (over the same dump-time dictionary)
  // checks both.
  private lazy val bpeTokenCountsSql: String =
    s"""WITH dict(word, syms, n_syms) AS (VALUES $BpeDictPlaceholder),
       |w AS (SELECT doc_id,
       |  unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
       |FROM documents),
       |m AS (SELECT doc_id, n_syms FROM w JOIN dict USING (word) WHERE word <> '')
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens
       |FROM m GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** Per-language fertility under the same dump-time dictionary —
    * tokens-per-word and chars-per-token as double divisions of
    * exact corpus-total longs.
    */
  private lazy val bpeFertilitySql: String =
    s"""WITH dict(word, syms, n_syms) AS (VALUES $BpeDictPlaceholder),
       |w AS (SELECT doc_id, lang,
       |  unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
       |FROM documents),
       |m AS (SELECT doc_id, lang, word, n_syms FROM w JOIN dict USING (word)
       |  WHERE word <> '')
       |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(len(word)) AS BIGINT) AS n_chars,
       |  CAST(sum(n_syms) AS DOUBLE) / count(*) AS fertility,
       |  CAST(sum(len(word)) AS DOUBLE) / sum(n_syms) AS chars_per_token
       |FROM m GROUP BY 1 ORDER BY lang""".stripMargin

  private lazy val unigramTokenCountsSql: String =
    s"""WITH dict(word, syms, n_pieces) AS (VALUES $UnigramDictPlaceholder),
       |w AS (SELECT doc_id,
       |  unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
       |FROM documents),
       |m AS (SELECT doc_id, n_pieces FROM w JOIN dict USING (word) WHERE word <> '')
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(n_pieces) AS BIGINT) AS n_unigram_tokens
       |FROM m GROUP BY 1 ORDER BY doc_id""".stripMargin

  // Positional reassembly: word positions ride the list transform,
  // the dict join fans each word to its symbol/piece string, and the
  // order-by-pos string_agg rebuilds exactly the space-joined token
  // stream Spark digests (md5 lowercase hex in both engines).
  private lazy val unigramEncodeSql: String =
    s"""WITH dict(word, syms, n_pieces) AS (VALUES $UnigramDictPlaceholder),
       |t AS (SELECT doc_id,
       |  string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
       |w AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)+1),
       |  i -> struct_pack(pos := i, word := ws[i]))) AS p FROM t),
       |f AS (SELECT doc_id, p.pos AS pos, p.word AS word FROM w
       |  WHERE p.word <> ''),
       |j AS (SELECT doc_id, pos, syms, n_pieces FROM f JOIN dict USING (word))
       |SELECT doc_id, CAST(sum(n_pieces) AS BIGINT) AS n_tokens,
       |  md5(string_agg(syms, ' ' ORDER BY pos)) AS token_md5
       |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin

  // the soft-EM dictionary through the identical reassembly chain —
  // only the VALUES source differs (UnigramSoftDictPlaceholder)
  private lazy val unigramEncodeSoftSql: String =
    s"""WITH dict(word, syms, n_pieces) AS (VALUES $UnigramSoftDictPlaceholder),
       |t AS (SELECT doc_id,
       |  string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
       |w AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)+1),
       |  i -> struct_pack(pos := i, word := ws[i]))) AS p FROM t),
       |f AS (SELECT doc_id, p.pos AS pos, p.word AS word FROM w
       |  WHERE p.word <> ''),
       |j AS (SELECT doc_id, pos, syms, n_pieces FROM f JOIN dict USING (word))
       |SELECT doc_id, CAST(sum(n_pieces) AS BIGINT) AS n_tokens,
       |  md5(string_agg(syms, ' ' ORDER BY pos)) AS token_md5
       |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin

  // byte-level dict through the identical reassembly chain
  private lazy val bpeEncodeBytesSql: String =
    s"""WITH dict(word, syms, n_syms) AS (VALUES $BpeBytesDictPlaceholder),
       |t AS (SELECT doc_id,
       |  string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
       |w AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)+1),
       |  i -> struct_pack(pos := i, word := ws[i]))) AS p FROM t),
       |f AS (SELECT doc_id, p.pos AS pos, p.word AS word FROM w
       |  WHERE p.word <> ''),
       |j AS (SELECT doc_id, pos, syms, n_syms FROM f JOIN dict USING (word))
       |SELECT doc_id, CAST(sum(n_syms) AS BIGINT) AS n_tokens,
       |  md5(string_agg(syms, ' ' ORDER BY pos)) AS token_md5
       |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin

  // the batched-trainer dictionary through the identical reassembly
  // chain — only the VALUES source differs (BpeBatchedDictPlaceholder)
  private lazy val bpeEncodeBatchedSql: String =
    s"""WITH dict(word, syms, n_syms) AS (VALUES $BpeBatchedDictPlaceholder),
       |t AS (SELECT doc_id,
       |  string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
       |w AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)+1),
       |  i -> struct_pack(pos := i, word := ws[i]))) AS p FROM t),
       |f AS (SELECT doc_id, p.pos AS pos, p.word AS word FROM w
       |  WHERE p.word <> ''),
       |j AS (SELECT doc_id, pos, syms, n_syms FROM f JOIN dict USING (word))
       |SELECT doc_id, CAST(sum(n_syms) AS BIGINT) AS n_tokens,
       |  md5(string_agg(syms, ' ' ORDER BY pos)) AS token_md5
       |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin

  private lazy val bpeEncodeSql: String =
    s"""WITH dict(word, syms, n_syms) AS (VALUES $BpeDictPlaceholder),
       |t AS (SELECT doc_id,
       |  string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
       |w AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)+1),
       |  i -> struct_pack(pos := i, word := ws[i]))) AS p FROM t),
       |f AS (SELECT doc_id, p.pos AS pos, p.word AS word FROM w
       |  WHERE p.word <> ''),
       |j AS (SELECT doc_id, pos, syms, n_syms FROM f JOIN dict USING (word))
       |SELECT doc_id, CAST(sum(n_syms) AS BIGINT) AS n_tokens,
       |  md5(string_agg(syms, ' ' ORDER BY pos)) AS token_md5
       |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** The config fan-out / rank / truth-score tail shared by every
    * IVF-PQ-family curve oracle: expects a CTE named `pairs` with
    * (qid, nid, min_crank, adc_dist_nano) and scores against the
    * exact-cosine truth computed over `truthSrc`.
    */
  private def curveGridTailSql(truthSrc: String): String =
    s"""grid AS (SELECT unnest([CAST(1 AS BIGINT), CAST(2 AS BIGINT),
      |  CAST(4 AS BIGINT), CAST(8 AS BIGINT)]) AS n_probe_lists),
      |confs AS (SELECT g.n_probe_lists, p.qid, p.nid, p.adc_dist_nano
      |  FROM pairs p CROSS JOIN grid g WHERE p.min_crank <= g.n_probe_lists),
      |tk AS (SELECT n_probe_lists, qid, nid FROM (
      |  SELECT n_probe_lists, qid, nid,
      |    row_number() OVER (PARTITION BY n_probe_lists, qid
      |      ORDER BY adc_dist_nano ASC, nid ASC) AS rank FROM confs)
      |  WHERE rank <= 5),
      |n AS (SELECT vec_id, v,
      |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm FROM $truthSrc),
      |bs AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
      |  list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i]*c.v[i])) / (q.nrm * c.nrm) AS cos_sim
      |FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
      |br AS (SELECT qid, nid,
      |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM bs),
      |b AS (SELECT g.n_probe_lists, br.qid, br.nid FROM br CROSS JOIN grid g
      |  WHERE br.rank <= 5),
      |h AS (SELECT b.n_probe_lists, CAST(count(*) AS BIGINT) AS n_true,
      |  CAST(sum(CASE WHEN tk.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      |FROM b LEFT JOIN tk ON tk.n_probe_lists = b.n_probe_lists
      |  AND tk.qid = b.qid AND tk.nid = b.nid GROUP BY 1),
      |nc AS (SELECT n_probe_lists, CAST(count(*) AS BIGINT) AS n_candidates
      |  FROM confs GROUP BY 1)
      |SELECT h.n_probe_lists, n_true,
      |  coalesce(nc.n_candidates, CAST(0 AS BIGINT)) AS n_candidates, n_hit,
      |  CAST(n_hit AS DOUBLE) / n_true AS recall
      |FROM h LEFT JOIN nc ON h.n_probe_lists = nc.n_probe_lists
      |ORDER BY h.n_probe_lists""".stripMargin

  /** The IVF-PQ probeLists-sweep oracle tail (42h8): "g"-prefixed
    * coarse chain over `e`, probe cells ranked to the widest grid
    * config with rank kept, one pair set, config fan-out, ADC
    * nano-ranking — recall scored against exact-cosine truth computed
    * over `truthSrc` ("e" for the plain curve, "eraw" for the
    * learned-rotation curve whose truth stays in the original space).
    */
  private def ivfPqCurveTailSql(truthSrc: String): String =
    s"""${kmeansBlocksSql("g", 8, 3)},
      |cell AS MATERIALIZED (SELECT vec_id, cid FROM (
      |  SELECT e.vec_id, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_sum(list_transform(range(1, len(e.v)+1),
      |        i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))) ASC, c.cid ASC) AS rn
      |  FROM e CROSS JOIN gc3 c) WHERE rn = 1),
      |plr AS (SELECT vec_id AS qid, cid, CAST(rn AS BIGINT) AS min_crank FROM (
      |  SELECT e.vec_id, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_sum(list_transform(range(1, len(e.v)+1),
      |        i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))) ASC, c.cid ASC) AS rn
      |  FROM e CROSS JOIN gc3 c WHERE e.vec_id < 20) WHERE rn <= 8),
      |rec AS MATERIALIZED (SELECT f0.vec_id,
      |  ${(0 until 8).map(i => s"f$i.cv").mkString(" || ")} AS rv
      |FROM f0 ${(1 until 8).map(i => s"JOIN f$i USING (vec_id)").mkString(" ")}),
      |pr AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
      |pairs AS (SELECT plr.qid, cell.vec_id AS nid, plr.min_crank,
      |  CAST(floor(list_sum(list_transform(range(1, len(pr.qv)+1),
      |    j -> (pr.qv[j]-rec.rv[j])*(pr.qv[j]-rec.rv[j]))) * 1e9 + 0.5) AS BIGINT)
      |    AS adc_dist_nano
      |FROM plr JOIN cell ON cell.cid = plr.cid
      |JOIN rec ON rec.vec_id = cell.vec_id
      |JOIN pr ON pr.qid = plr.qid
      |WHERE plr.qid <> cell.vec_id),
      |${curveGridTailSql(truthSrc)}""".stripMargin

  def oracleSql: Map[String, String] = baseOracleSql +
    // the persisted-truth build entry returns exactly the brute-force
    // top-k table (read back through parquet — doubles are lossless),
    // so its oracle IS the brute-force oracle
    ("ann_exact_truth" -> baseOracleSql("knn_cosine_bruteforce")) +
    // the cross-family deployment question — "which index wins
    // recall-per-candidate on THIS corpus" — as one table: the three
    // point-sweep curves (IVF probes / LSH planes / graph hops)
    // normalized to (family, knob, ...) and unioned; each branch is
    // the EXACT per-family oracle as a subquery, so the comparison
    // can never drift from its members
    ("ann_family_comparison" ->
      s"""SELECT * FROM (
         |SELECT 'graph' AS family, n_hops AS knob, n_true, n_candidates,
         |  n_hit, recall FROM (${baseOracleSql("ann_operating_curve_graph")})
         |UNION ALL
         |SELECT 'ivf' AS family, n_probe_lists AS knob, n_true, n_candidates,
         |  n_hit, recall FROM (${baseOracleSql("ann_operating_curve")})
         |UNION ALL
         |SELECT 'lsh' AS family, n_planes AS knob, n_true, n_candidates,
         |  n_hit, recall FROM (${baseOracleSql("lsh_operating_curve")}))
         |ORDER BY family, knob""".stripMargin)

  private lazy val baseOracleSql: Map[String, String] = Map(
    "dim_date" ->
      s"""WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS date_value FROM orders),
         |e AS (SELECT date_value, year(date_value) AS y, month(date_value) AS m,
         |  day(date_value) AS dd, quarter(date_value) AS q,
         |  weekofyear(date_value) AS w, isodow(date_value) AS dw FROM d)
         |SELECT y*10000 + m*100 + dd AS date_key, date_value, y AS year, m AS month,
         |  dd AS day, q AS quarter, w AS iso_week, dw AS iso_dow,
         |  $dayCase AS day_name,
         |  $monthCase AS month_name,
         |  dw >= 6 AS is_weekend,
         |  (m = 1 AND dd = 1) OR (m = 5 AND dd = 1) OR (m = 12 AND dd = 25) AS is_holiday
         |FROM e ORDER BY date_key""".stripMargin,

    "dim_customer" ->
      """SELECT c_custkey, md5('cust:' || CAST(c_custkey AS VARCHAR)) AS customer_sk,
        |  c_name, c_mktsegment, c_acctbal,
        |  CASE WHEN c_acctbal < 0 THEN 'NEGATIVE' WHEN c_acctbal < 5000 THEN 'STANDARD'
        |    ELSE 'PREMIUM' END AS balance_tier,
        |  n_name AS nation, r_name AS region
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY c_custkey""".stripMargin,

    "dim_product" ->
      """SELECT p_partkey, md5('part:' || CAST(p_partkey AS VARCHAR)) AS product_sk,
        |  p_name, p_brand, p_type, split_part(p_type, ' ', 1) AS type_family,
        |  p_size, p_retailprice,
        |  CASE WHEN p_retailprice < 500 THEN 'BUDGET' WHEN p_retailprice < 1000 THEN 'MID'
        |    ELSE 'PREMIUM' END AS price_band
        |FROM part ORDER BY p_partkey""".stripMargin,

    "dim_supplier" ->
      """SELECT s_suppkey, md5('supp:' || CAST(s_suppkey AS VARCHAR)) AS supplier_sk,
        |  s_name, s_acctbal, n_name AS nation, r_name AS region
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY s_suppkey""".stripMargin,

    "dim_geography" ->
      """SELECT n_nationkey, md5('geo:' || CAST(n_nationkey AS VARCHAR)) AS geo_sk,
        |  n_name AS nation, r_regionkey, r_name AS region
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,

    "dim_order_status" ->
      """SELECT row_number() OVER (ORDER BY o_orderstatus, o_orderpriority) AS status_sk,
        |  o_orderstatus, o_orderpriority
        |FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders) t
        |ORDER BY status_sk""".stripMargin,

    "dim_brand" ->
      """SELECT p_brand, md5('brand:' || p_brand) AS brand_sk,
        |  count(*) AS n_parts,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE)/count(*) AS avg_retail,
        |  min(p_retailprice) AS min_retail, max(p_retailprice) AS max_retail
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "dim_event_type" ->
      """WITH a AS (SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  min(CAST(ts AS DATE)) AS first_seen, max(CAST(ts AS DATE)) AS last_seen
        |FROM events GROUP BY 1)
        |SELECT event_type, md5('etype:' || event_type) AS event_type_sk,
        |  CASE WHEN event_type = 'purchase' THEN 'conversion'
        |    WHEN event_type IN ('click', 'view') THEN 'engagement'
        |    WHEN event_type = 'signup' THEN 'acquisition'
        |    ELSE 'ops' END AS category,
        |  n_events, n_users, first_seen, last_seen
        |FROM a ORDER BY event_type""".stripMargin,

    "customer_value_tiers" ->
      """WITH rev AS (SELECT o_custkey, count(*) AS n_orders,
        |  SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec
        |FROM orders GROUP BY 1)
        |SELECT o_custkey, n_orders, CAST(rev_dec AS DOUBLE) AS revenue,
        |  ntile(4) OVER w AS value_tier,
        |  percent_rank() OVER w AS pct_rank
        |FROM rev WINDOW w AS (ORDER BY rev_dec DESC, o_custkey)
        |ORDER BY o_custkey""".stripMargin,

    "q4_late_priority" ->
      """SELECT o_orderpriority, count(*) AS n_late_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    "q18_big_orders" ->
      """WITH q AS (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty_dec
        |  FROM lineitem GROUP BY 1 HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 130.0)
        |SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        |  o_totalprice, CAST(qty_dec AS DOUBLE) AS sum_qty
        |FROM orders JOIN q ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "fact_sales" ->
      s"""WITH li AS ($liCte),
         |ds AS (SELECT row_number() OVER (ORDER BY o_orderstatus, o_orderpriority) AS status_sk,
         |  o_orderstatus, o_orderpriority
         |  FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders) t)
         |SELECT l_orderkey, l_linenumber,
         |  year(CAST(o_orderdate AS DATE))*10000 + month(CAST(o_orderdate AS DATE))*100 +
         |    day(CAST(o_orderdate AS DATE)) AS date_key,
         |  md5('cust:' || CAST(o_custkey AS VARCHAR)) AS customer_sk,
         |  md5('part:' || CAST(l_partkey AS VARCHAR)) AS product_sk,
         |  md5('supp:' || CAST(l_suppkey AS VARCHAR)) AS supplier_sk,
         |  ds.status_sk,
         |  l_quantity AS quantity,
         |  l_extendedprice AS gross_amount,
         |  CAST(ep * dc AS DOUBLE) AS discount_amount,
         |  CAST(net AS DOUBLE) AS net_amount,
         |  CAST(net * tx AS DOUBLE) AS tax_amount,
         |  CAST(net * CAST(1 + tx AS DECIMAL(4,2)) AS DOUBLE) AS total_amount
         |FROM li JOIN orders ON l_orderkey = o_orderkey
         |JOIN ds ON orders.o_orderstatus = ds.o_orderstatus
         |  AND orders.o_orderpriority = ds.o_orderpriority
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // promo_name = 'PROMO ' || p_brand matches dim_promotion's name for
    // the extracted brand number, so no dim re-derivation is needed
    "fact_sales_promo" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey,
        |  CAST(l_extendedprice AS DECIMAL(12,2)) AS ep,
        |  CAST(l_discount AS DECIMAL(4,2)) AS dc FROM lineitem),
        |j AS (SELECT l_orderkey, l_linenumber,
        |  CASE WHEN p_type = 'PROMO' AND dc > 0
        |    THEN CAST(regexp_extract(p_brand, '[0-9]+') AS BIGINT) ELSE -1 END AS promo_id,
        |  CASE WHEN p_type = 'PROMO' AND dc > 0
        |    THEN 'PROMO ' || p_brand ELSE 'NO_PROMOTION' END AS promo_name,
        |  CAST(ep * dc AS DOUBLE) AS discount_amount
        |FROM li JOIN part ON l_partkey = p_partkey)
        |SELECT l_orderkey, l_linenumber, promo_id,
        |  md5('promo:' || CAST(promo_id AS VARCHAR)) AS promo_sk,
        |  promo_name, discount_amount
        |FROM j ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "fact_inventory" ->
      """WITH agg AS (SELECT l_partkey, l_suppkey, count(*) AS n_shipments,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |  MIN(CAST(l_shipdate AS DATE)) AS first_ship,
        |  MAX(CAST(l_shipdate AS DATE)) AS last_ship
        |FROM lineitem GROUP BY 1, 2)
        |SELECT p_partkey, s_suppkey, p_name, p_brand, s_name, n_shipments,
        |  total_qty, total_value, total_value/total_qty AS avg_unit_price,
        |  first_ship, last_ship
        |FROM agg JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY p_partkey, s_suppkey""".stripMargin,

    "fact_transactions" ->
      """SELECT user_id, event_type, CAST(ts AS DATE) AS event_date,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2, 3
        |ORDER BY user_id, event_type, event_date""".stripMargin,

    // The CDC-maintenance proof: the Spark side applies snapshotDiff's
    // I/U/D stream to the stale fact; the oracle IS the full rebuild
    // from the new snapshot. Hash equality = incremental ≡ rebuild.
    "fact_transactions_cdc" ->
      """SELECT user_id, event_type, CAST(ts AS DATE) AS event_date,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events WHERE event_id % 7 <> 0 GROUP BY 1, 2, 3
        |ORDER BY user_id, event_type, event_date""".stripMargin,

    "fact_pnl" ->
      s"""WITH li AS ($liCte),
         |base AS (SELECT year(CAST(o_orderdate AS DATE)) AS fiscal_year,
         |  net, ep * dc AS disc, CAST(net * tx AS DECIMAL(19,6)) AS taxamt
         |  FROM li JOIN orders ON l_orderkey = o_orderkey),
         |st AS (
         |  SELECT fiscal_year, 'REVENUE' AS account, CAST(net AS DECIMAL(19,6)) AS amt FROM base
         |  UNION ALL
         |  SELECT fiscal_year, 'DISCOUNT', CAST(-disc AS DECIMAL(19,6)) FROM base
         |  UNION ALL
         |  SELECT fiscal_year, 'TAX', taxamt FROM base)
         |SELECT fiscal_year, account, count(*) AS n_lines,
         |  CAST(SUM(amt) AS DOUBLE) AS amount
         |FROM st GROUP BY 1, 2 ORDER BY fiscal_year, account""".stripMargin,

    "fact_balance" ->
      """WITH m AS (SELECT o_custkey, date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
        |  count(*) AS n_orders, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS spend_dec
        |FROM orders GROUP BY 1, 2),
        |c AS (SELECT *, SUM(spend_dec) OVER (PARTITION BY o_custkey ORDER BY month
        |  ROWS UNBOUNDED PRECEDING) AS closing_dec FROM m)
        |SELECT o_custkey AS c_custkey, month, n_orders,
        |  CAST(spend_dec AS DOUBLE) AS period_spend,
        |  CAST(closing_dec - spend_dec AS DOUBLE) AS opening_balance,
        |  CAST(closing_dec AS DOUBLE) AS closing_balance
        |FROM c ORDER BY c_custkey, month""".stripMargin,

    // Benford audit: the expected shares are interpolated from the
    // SAME Scala constants the DataFrame plan uses (shortest-round-trip
    // double reprs parse identically in both engines — no cross-engine
    // log10); floor before the digit extraction (cast semantics differ).
    "validate_benford" -> {
      // CAST each share from a STRING: DuckDB routes a numeric
      // literal through DECIMAL, which re-rounds the 17th digit
      // (measured: …93 → …92); the VARCHAR→DOUBLE cast round-trips
      // the shortest repr exactly
      val cases = graft.operators.Validation.benfordShares
        .map { case (d, p) => s"WHEN $d THEN CAST('$p' AS DOUBLE)" }.mkString(" ")
      s"""WITH c AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
         |  FROM orders),
         |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM c GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM orders),
         |e AS (SELECT digit, n_obs, n_total,
         |  CASE digit $cases END AS expected_share FROM g CROSS JOIN n)
         |SELECT digit, n_obs, n_total, expected_share,
         |  CAST(floor((CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * expected_share)
         |    * (CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * expected_share)
         |    / (CAST(n_total AS DOUBLE) * expected_share) * 1000000.0 + 0.5) AS BIGINT) AS chi2_micro
         |FROM e ORDER BY digit""".stripMargin
    },

    // Two-sample χ² in the product-rewritten sqrt-free form, binned
    // over the union's observed bounds — arithmetic mirror of
    // Validation.distributionDrift.
    "validate_distribution_drift" ->
      """WITH u AS (SELECT CAST(o_totalprice AS DOUBLE) AS x,
        |  CASE WHEN o_orderkey % 2 = 0 THEN 0 ELSE 1 END AS side FROM orders),
        |b AS (SELECT min(x) AS mn, max(x) AS mx FROM u),
        |bn AS (SELECT CASE WHEN mx = mn THEN 0
        |    ELSE CAST(least(floor((x - mn) / ((mx - mn) / 20.0)), 19) AS BIGINT) END AS bin,
        |  side FROM u CROSS JOIN b),
        |c AS (SELECT bin,
        |  CAST(count(CASE WHEN side = 0 THEN 1 END) AS BIGINT) AS n_prev,
        |  CAST(count(CASE WHEN side = 1 THEN 1 END) AS BIGINT) AS n_cur
        |FROM bn GROUP BY 1),
        |t AS (SELECT CAST(sum(n_prev) AS BIGINT) AS t_prev,
        |  CAST(sum(n_cur) AS BIGINT) AS t_cur FROM c)
        |SELECT bin, n_prev, n_cur, t_prev, t_cur,
        |  CAST(floor((CAST(n_prev AS DOUBLE) * CAST(t_cur AS DOUBLE)
        |      - CAST(n_cur AS DOUBLE) * CAST(t_prev AS DOUBLE))
        |    * (CAST(n_prev AS DOUBLE) * CAST(t_cur AS DOUBLE)
        |      - CAST(n_cur AS DOUBLE) * CAST(t_prev AS DOUBLE))
        |    / (CAST(t_prev AS DOUBLE) * CAST(t_cur AS DOUBLE)
        |      * (CAST(n_prev AS DOUBLE) + CAST(n_cur AS DOUBLE)))
        |    * 1000000.0 + 0.5) AS BIGINT) AS chi2_micro
        |FROM c CROSS JOIN t ORDER BY bin""".stripMargin,

    "validate_freshness" ->
      """WITH p AS (
        |  SELECT 'orders' AS table_name, max(CAST(o_orderdate AS DATE)) AS max_date FROM orders
        |  UNION ALL SELECT 'lineitem', max(CAST(l_shipdate AS DATE)) FROM lineitem
        |  UNION ALL SELECT 'events', max(CAST(ts AS DATE)) FROM events),
        |g AS (SELECT max(max_date) AS gm FROM p)
        |SELECT table_name, max_date,
        |  CAST(date_diff('day', max_date, gm) AS BIGINT) AS lag_days,
        |  date_diff('day', max_date, gm) > 30 AS is_stale
        |FROM p, g ORDER BY table_name""".stripMargin,

    "events_new_returning" ->
      """WITH a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS w FROM events),
        |f AS (SELECT user_id, min(w) AS fw FROM a GROUP BY 1)
        |SELECT w AS week, count(*) AS n_active,
        |  count(*) FILTER (w = fw) AS n_new,
        |  count(*) - count(*) FILTER (w = fw) AS n_returning
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1 ORDER BY week""".stripMargin,

    "events_sliding" ->
      """WITH e AS (SELECT event_type, value, epoch_us(ts) AS tus FROM events),
        |w AS (SELECT event_type, value,
        |  (tus // 900000000) * 900000000 - j * 900000000 AS start_us
        |FROM e, (SELECT unnest(range(0, 4)) AS j))
        |SELECT make_timestamp(start_us) AS window_start,
        |  make_timestamp(start_us + 3600000000) AS window_end,
        |  event_type, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM w GROUP BY 1, 2, 3 ORDER BY window_start, event_type""".stripMargin,

    "events_transitions" ->
      """WITH t AS (SELECT event_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |FROM events)
        |SELECT event_type AS from_type, next_type AS to_type,
        |  count(*) AS n_transitions
        |FROM t WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,

    // Grouped HLL: same register/estimator chain as corpus_vocab_hll
    // keyed by day, exact DAU beside it for the error profile.
    "events_dau_hll" ->
      """WITH h AS (SELECT CAST(ts AS DATE) AS day,
        |  (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT) AS h FROM events),
        |br AS (SELECT day, h >> 52 AS bucket, h & 4503599627370495 AS rem FROM h),
        |rk AS (SELECT day, bucket,
        |  CASE WHEN rem = 0 THEN 53 ELSE 53 - length(bin(rem)) END AS rank FROM br),
        |reg AS (SELECT day, bucket, CAST(max(rank) AS BIGINT) AS max_rank
        |  FROM rk GROUP BY 1, 2),
        |agg AS (SELECT day, CAST(count(*) AS BIGINT) AS n_nonzero,
        |  CAST(sum(9007199254740992 >> CAST(max_rank AS INT)) AS BIGINT) AS d_obs
        |FROM reg GROUP BY 1),
        |d AS (SELECT day, n_nonzero,
        |  coalesce(d_obs, 0) + (256 - n_nonzero) * 9007199254740992 AS denom_scaled FROM agg),
        |e AS (SELECT day, n_nonzero, denom_scaled,
        |  0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0
        |    / CAST(denom_scaled AS DOUBLE) AS raw
        |FROM d),
        |x AS (SELECT CAST(ts AS DATE) AS day,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events GROUP BY 1)
        |SELECT e.day, n_nonzero, denom_scaled,
        |  CAST(floor((CASE WHEN (256 - n_nonzero) > 0 AND raw <= 640.0
        |    THEN 256.0 * log2(256.0 / CAST(256 - n_nonzero AS DOUBLE)) * 0.6931471805599453
        |    ELSE raw END) * 1000000.0 + 0.5) AS BIGINT) AS est_micro,
        |  n_exact
        |FROM e JOIN x ON e.day = x.day ORDER BY e.day""".stripMargin,

    "events_dau_wau" ->
      """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day AS d FROM ud),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
        |wau AS (SELECT d AS day, count(DISTINCT user_id) AS wau
        |  FROM days JOIN ud ON ud.day >= d - 6 AND ud.day <= d GROUP BY 1)
        |SELECT day, dau, wau, CAST(dau AS DOUBLE)/wau AS stickiness
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,

    "doc_length_hist" ->
      """WITH b AS (SELECT CAST(floor(log2(greatest(n_chars, 1))) AS BIGINT) AS log2_bucket,
        |  n_chars FROM documents)
        |SELECT log2_bucket, CAST(pow(2.0, log2_bucket) AS BIGINT) AS bucket_floor,
        |  count(*) AS n_docs, min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM b GROUP BY 1 ORDER BY log2_bucket""".stripMargin,

    "multimodal_audio" ->
      """WITH t AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS nb FROM documents),
        |d AS (SELECT doc_id, nb*37 % 50000 + 1000 AS duration_ms FROM t),
        |w AS (SELECT doc_id, duration_ms,
        |  CAST((duration_ms + 9999)//10000 AS BIGINT) AS n_windows FROM d),
        |e AS (SELECT doc_id, duration_ms, n_windows,
        |  unnest(range(0, n_windows)) AS window_idx FROM w)
        |SELECT doc_id, duration_ms, n_windows, window_idx,
        |  window_idx*10000 AS start_ms,
        |  least((window_idx+1)*10000, duration_ms) AS end_ms,
        |  md5(CAST(doc_id AS VARCHAR) || ':aw:' || CAST(window_idx AS VARCHAR)) AS window_md5
        |FROM e ORDER BY doc_id, window_idx""".stripMargin,

    // audio fingerprint family (r15): the stub energy extractor reads
    // raw payload bytes — byte p = 2 hex chars of the one hex() per
    // row — so DuckDB reproduces the signature exactly; the 64 OR'd
    // disjoint-bit CASE terms are generated by the same Scala loop
    // that builds the Spark expression (bit 63 renders as the negative
    // BIGINT literal). Near-dup: capped fp buckets, pair join, the
    // best-aligned-diagonal vote (ties to the smallest delta — the m×d
    // re-join states the struct-max the Spark side computes in one
    // pass).
    "audio_fingerprints" -> audioFingerprintsSql,
    "audio_near_dup" -> audioNearDupSql,

    "dim_time_of_day" ->
      """WITH h AS (SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day, count(*) AS n_events
        |FROM events GROUP BY 1)
        |SELECT hour_of_day,
        |  CASE WHEN hour_of_day <= 5 THEN 'night' WHEN hour_of_day <= 11 THEN 'morning'
        |    WHEN hour_of_day <= 17 THEN 'afternoon' ELSE 'evening' END AS daypart,
        |  hour_of_day BETWEEN 9 AND 17 AS is_business_hours,
        |  n_events
        |FROM h ORDER BY hour_of_day""".stripMargin,

    "dim_date_full" ->
      s"""WITH s AS (SELECT min(CAST(o_orderdate AS DATE)) AS dmin,
         |  max(CAST(o_orderdate AS DATE)) AS dmax FROM orders),
         |d AS (SELECT CAST(unnest(generate_series(dmin, dmax, INTERVAL 1 DAY)) AS DATE)
         |  AS date_value FROM s),
         |e AS (SELECT date_value, year(date_value) AS y, month(date_value) AS m,
         |  day(date_value) AS dd, quarter(date_value) AS q,
         |  weekofyear(date_value) AS w, isodow(date_value) AS dw FROM d)
         |SELECT y*10000 + m*100 + dd AS date_key, date_value, y AS year, m AS month,
         |  dd AS day, q AS quarter, w AS iso_week, dw AS iso_dow,
         |  $dayCase AS day_name,
         |  $monthCase AS month_name,
         |  dw >= 6 AS is_weekend,
         |  (m = 1 AND dd = 1) OR (m = 5 AND dd = 1) OR (m = 12 AND dd = 25) AS is_holiday
         |FROM e ORDER BY date_key""".stripMargin,

    "key_skew_orders" ->
      """WITH pk AS (SELECT o_custkey, count(*) AS n_rows FROM orders GROUP BY 1),
        |g AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total_rows,
        |  count(*) AS n_keys, max(n_rows) AS max_rows FROM pk)
        |SELECT o_custkey, n_rows,
        |  CAST(n_rows AS DOUBLE)/total_rows AS share,
        |  CAST(max_rows AS DOUBLE)*n_keys/total_rows AS skew_factor
        |FROM pk, g ORDER BY n_rows DESC, o_custkey LIMIT 10""".stripMargin,

    // The same magic-number Morton-spread ladder as Partitioning
    // .spread16, one CTE per shift-mask step (masks: 0x00FF00FF,
    // 0x0F0F0F0F, 0x33333333, 0x55555555), x in even bits, y odd.
    "zorder_layout" ->
      """WITH b AS (SELECT l_partkey % 65536 AS x, l_suppkey % 65536 AS y FROM lineitem),
        |s0 AS (SELECT x, y, x & 65535 AS xs, y & 65535 AS ys FROM b),
        |s1 AS (SELECT x, y, (xs | (xs << 8)) & 16711935 AS xs,
        |                    (ys | (ys << 8)) & 16711935 AS ys FROM s0),
        |s2 AS (SELECT x, y, (xs | (xs << 4)) & 252645135 AS xs,
        |                    (ys | (ys << 4)) & 252645135 AS ys FROM s1),
        |s3 AS (SELECT x, y, (xs | (xs << 2)) & 858993459 AS xs,
        |                    (ys | (ys << 2)) & 858993459 AS ys FROM s2),
        |s4 AS (SELECT x, y, (xs | (xs << 1)) & 1431655765 AS xs,
        |                    (ys | (ys << 1)) & 1431655765 AS ys FROM s3)
        |SELECT (xs | (ys << 1)) >> 20 AS z_bucket, count(*) AS n_rows,
        |  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
        |FROM s4 GROUP BY 1 ORDER BY z_bucket""".stripMargin,

    "dim_fiscal_period" ->
      """WITH s AS (SELECT min(CAST(o_orderdate AS DATE)) AS dmin,
        |  max(CAST(o_orderdate AS DATE)) AS dmax FROM orders),
        |m AS (SELECT CAST(unnest(generate_series(date_trunc('month', dmin),
        |  date_trunc('month', dmax), INTERVAL 1 MONTH)) AS DATE) AS start_date, dmax FROM s)
        |SELECT CAST(year(start_date)*100 + month(start_date) AS BIGINT) AS period_id,
        |  CAST(year(start_date) AS BIGINT) AS year,
        |  CAST(month(start_date) AS BIGINT) AS month,
        |  CAST(quarter(start_date) AS BIGINT) AS quarter,
        |  strftime(start_date, '%Y-%m') AS period_name,
        |  start_date,
        |  last_day(start_date) AS end_date,
        |  last_day(start_date) < date_trunc('month', dmax) AS is_closed
        |FROM m ORDER BY period_id""".stripMargin,

    "dim_payment_method" ->
      """WITH c(pay_method_id, method, processor, payment_type) AS (VALUES
        |  (1, 'Cash', 'Manual', 'Immediate'),
        |  (2, 'Credit Card', 'Visa/MC', 'Immediate'),
        |  (3, 'Debit Card', 'Visa/MC', 'Immediate'),
        |  (4, 'Wire Transfer', 'Bank', 'Immediate'),
        |  (5, 'Check', 'Bank', 'Deferred'),
        |  (6, 'PayPal', 'PayPal', 'Immediate'),
        |  (7, 'Stripe', 'Stripe', 'Immediate'),
        |  (8, 'Bitcoin', 'Blockchain', 'Immediate'),
        |  (9, 'Net 30', 'Internal', 'Credit'),
        |  (10, 'Net 60', 'Internal', 'Credit'))
        |SELECT CAST(pay_method_id AS BIGINT) AS pay_method_id,
        |  md5('pay:' || CAST(pay_method_id AS VARCHAR)) AS payment_sk,
        |  method, processor, payment_type
        |FROM c ORDER BY pay_method_id""".stripMargin,

    "dim_tax_rate" ->
      """WITH r AS (SELECT CAST(l_tax AS DECIMAL(4,2)) AS tr, count(*) AS n_lines
        |FROM lineitem GROUP BY 1)
        |SELECT CAST(tr*100 AS BIGINT) AS tax_rate_key,
        |  md5('tax:' || CAST(CAST(tr*100 AS BIGINT) AS VARCHAR)) AS tax_sk,
        |  CAST(tr AS DOUBLE) AS tax_rate,
        |  CASE WHEN tr = 0 THEN 'EXEMPT' WHEN tr < 0.05 THEN 'REDUCED'
        |    ELSE 'STANDARD' END AS tax_class,
        |  n_lines
        |FROM r ORDER BY tax_rate_key""".stripMargin,

    "dim_promotion" ->
      """WITH promo AS (SELECT p_brand, count(*) AS n_parts,
        |  SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS price_dec
        |  FROM part WHERE p_type = 'PROMO' GROUP BY 1),
        |p2 AS (SELECT CAST(regexp_extract(p_brand, '[0-9]+') AS BIGINT) AS promo_id,
        |  'PROMO ' || p_brand AS promo_name, TRUE AS is_active,
        |  CAST(n_parts AS BIGINT) AS n_parts,
        |  CAST(price_dec AS DOUBLE)/n_parts AS avg_retail FROM promo
        |UNION ALL
        |SELECT -1, 'NO_PROMOTION', TRUE, 0, NULL)
        |SELECT promo_id, md5('promo:' || CAST(promo_id AS VARCHAR)) AS promo_sk,
        |  promo_name, is_active, n_parts, avg_retail
        |FROM p2 ORDER BY promo_id""".stripMargin,

    "dim_account" ->
      """WITH c(account_code, account_name, account_type, category, level, parent_code, is_active) AS (VALUES
        |  ('4000', 'Operating Income', 'revenue', 'P&L', 1, '', TRUE),
        |  ('4100', 'REVENUE', 'revenue', 'P&L', 2, '4000', TRUE),
        |  ('4200', 'DISCOUNT', 'contra-revenue', 'P&L', 2, '4000', TRUE),
        |  ('2000', 'Current Liabilities', 'liability', 'BALANCE', 1, '', TRUE),
        |  ('2100', 'TAX', 'liability', 'BALANCE', 2, '2000', TRUE),
        |  ('9999', 'Suspense', 'other', 'NONE', 1, '', FALSE))
        |SELECT account_code, md5('acct:' || account_code) AS account_sk,
        |  account_name, account_type, category, CAST(level AS BIGINT) AS level,
        |  parent_code, is_active
        |FROM c ORDER BY account_code""".stripMargin,

    "dim_warehouse" ->
      """SELECT n_nationkey AS warehouse_code,
        |  md5('wh:' || CAST(n_nationkey AS VARCHAR)) AS warehouse_sk,
        |  'WAREHOUSE ' || n_name AS warehouse_name,
        |  n_name AS country, r_name AS region,
        |  CAST(10000 + (n_nationkey * 37 % 20) * 500 AS BIGINT) AS capacity_m3,
        |  CASE n_nationkey % 3 WHEN 0 THEN 'central' WHEN 1 THEN 'regional'
        |    ELSE 'transit' END AS warehouse_type,
        |  TRUE AS is_active
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY warehouse_code""".stripMargin,

    "dim_shipping" ->
      """WITH e AS (SELECT
        |  (['AIR', 'FOB', 'MAIL', 'RAIL', 'REG AIR', 'SHIP', 'TRUCK'])
        |    [CAST((l_orderkey * 11 + l_linenumber) % 7 + 1 AS INT)] AS ship_mode,
        |  l_linestatus AS line_status,
        |  date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS lead_days
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |g AS (SELECT ship_mode, line_status, count(*) AS n_lines,
        |  SUM(lead_days) AS lead_sum
        |FROM e GROUP BY 1, 2)
        |SELECT row_number() OVER (ORDER BY ship_mode, line_status) AS ship_sk,
        |  ship_mode, line_status,
        |  CASE WHEN ship_mode IN ('AIR', 'REG AIR') THEN 'AeroFreight'
        |    WHEN ship_mode = 'SHIP' THEN 'OceanLine'
        |    WHEN ship_mode = 'RAIL' THEN 'RailCo'
        |    WHEN ship_mode = 'TRUCK' THEN 'RoadRunner'
        |    WHEN ship_mode = 'MAIL' THEN 'PostalService'
        |    WHEN ship_mode = 'FOB' THEN 'FreightOnBoard'
        |    ELSE 'GenericCarrier' END AS carrier,
        |  n_lines,
        |  CAST(lead_sum AS DOUBLE)/n_lines AS avg_lead_days
        |FROM g ORDER BY ship_sk""".stripMargin,

    "dim_cost_center" ->
      """WITH c(cost_center_code, cost_center_name, description, center_type, manager, is_active) AS (VALUES
        |  ('CC100', 'Sales', 'Revenue generation', 'revenue', 'Sales Director', TRUE),
        |  ('CC200', 'Operations', 'Order fulfillment', 'operational', 'COO', TRUE),
        |  ('CC300', 'Finance', 'General and administrative', 'support', 'CFO', TRUE),
        |  ('CC400', 'IT', 'Technology platform', 'support', 'CTO', TRUE),
        |  ('CC500', 'Logistics', 'Distribution network', 'operational', 'Logistics Manager', TRUE),
        |  ('CC900', 'Legacy', 'Closed cost center', 'other', '', FALSE))
        |SELECT cost_center_code, md5('cc:' || cost_center_code) AS cost_center_sk,
        |  cost_center_name, description, center_type, manager, is_active
        |FROM c ORDER BY cost_center_code""".stripMargin,

    "dim_transaction_type" ->
      """WITH c(txn_type_code, txn_type_name, description, category) AS (VALUES
        |  ('TT01', 'Sale', 'Customer sale', 'ingreso'),
        |  ('TT02', 'Refund', 'Customer refund', 'egreso'),
        |  ('TT03', 'Purchase', 'Supplier purchase', 'gasto'),
        |  ('TT04', 'Transfer', 'Internal transfer', 'transferencia'),
        |  ('TT05', 'Adjustment', 'Inventory adjustment', 'ajuste'),
        |  ('TT06', 'Interest', 'Interest income', 'ingreso'))
        |SELECT txn_type_code, md5('tt:' || txn_type_code) AS txn_type_sk,
        |  txn_type_name, description, category,
        |  CASE WHEN category IN ('ingreso', 'entrada') THEN 'positivo'
        |    WHEN category IN ('gasto', 'egreso') THEN 'negativo'
        |    ELSE 'neutro' END AS cash_flow_effect,
        |  TRUE AS is_active
        |FROM c ORDER BY txn_type_code""".stripMargin,

    "dim_movement_type" ->
      """SELECT l_returnflag AS movement_code,
        |  md5('mov:' || l_returnflag) AS movement_sk,
        |  CASE WHEN l_returnflag = 'R' THEN 'Returned Shipment'
        |    WHEN l_returnflag = 'A' THEN 'Accepted Shipment'
        |    ELSE 'Normal Shipment' END AS movement_name,
        |  CASE WHEN l_returnflag = 'R' THEN 'outbound' ELSE 'inbound' END AS direction,
        |  CAST(CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END AS BIGINT) AS stock_effect,
        |  TRUE AS is_active, count(*) AS n_lines
        |FROM lineitem GROUP BY 1
        |ORDER BY movement_code""".stripMargin,

    "dim_direccion" ->
      """WITH e AS (
        |  SELECT 'customer' AS entity_type, CAST(c_custkey AS BIGINT) AS entity_key,
        |    c_nationkey AS nationkey FROM customer
        |  UNION ALL
        |  SELECT 'supplier', CAST(s_suppkey AS BIGINT), s_nationkey FROM supplier),
        |g AS (SELECT entity_type, entity_key,
        |  CAST(100 + (entity_key * 13) % 9900 AS VARCHAR) || ' ' || n_name || ' ST' AS street,
        |  n_name || ' CITY ' || CAST(entity_key % 10 AS VARCHAR) AS city,
        |  lpad(CAST((entity_key * 7919) % 100000 AS VARCHAR), 5, '0') AS postal_code,
        |  r_name AS region, n_name AS country
        |FROM e JOIN nation ON nationkey = n_nationkey
        |       JOIN region ON n_regionkey = r_regionkey)
        |SELECT md5('addr:' || entity_type || ':' || CAST(entity_key AS VARCHAR)) AS address_sk,
        |  entity_type, entity_key, street, city, postal_code, region, country,
        |  TRUE AS is_active,
        |  concat_ws(', ', street, city, region, country) AS full_address
        |FROM g ORDER BY entity_type, entity_key""".stripMargin,

    "dim_estado_pago" ->
      """WITH c(payment_status_code, status_name, description, is_active) AS (VALUES
        |  ('PAG', 'Pagado', 'Pago completado en su totalidad', TRUE),
        |  ('PEN', 'Pendiente', 'Pago aun no recibido', TRUE),
        |  ('PAR', 'Pago Parcial', 'Abono recibido, saldo pendiente', TRUE),
        |  ('REE', 'Reembolsado', 'Pago devuelto al cliente', TRUE),
        |  ('FAL', 'Fallido', 'Intento de pago rechazado', TRUE),
        |  ('CAN', 'Cancelado', 'Pago anulado antes de procesar', FALSE))
        |SELECT payment_status_code,
        |  md5('pay_status:' || payment_status_code) AS payment_status_sk,
        |  status_name, description, is_active
        |FROM c ORDER BY payment_status_code""".stripMargin,

    "dim_categoria_producto" ->
      """WITH fam AS (SELECT 'FAM:' || p_type AS category_code,
        |  p_type AS category_name, CAST(NULL AS VARCHAR) AS parent_code,
        |  CAST(1 AS BIGINT) AS level, count(*) AS n_parts
        |FROM part GROUP BY p_type),
        |cell AS (SELECT 'TYP:' || p_type || '/' || p_brand AS category_code,
        |  p_type || ' ' || p_brand AS category_name,
        |  'FAM:' || p_type AS parent_code,
        |  CAST(2 AS BIGINT) AS level, count(*) AS n_parts
        |FROM part GROUP BY p_type, p_brand),
        |u AS (SELECT * FROM fam UNION ALL SELECT * FROM cell)
        |SELECT category_code, md5('cat:' || category_code) AS category_sk,
        |  category_name, parent_code, level, n_parts
        |FROM u ORDER BY level, category_code""".stripMargin,

    "dim_orden" ->
      """SELECT o_orderkey AS orden_id, o_orderkey AS orden_externo_id,
        |  'ORD-' || CAST(o_orderkey AS VARCHAR) AS numero_orden,
        |  'Venta' AS tipo_orden, 'E-Commerce' AS canal, 'USD' AS moneda,
        |  CAST(1.0 AS DOUBLE) AS tasa_cambio, CAST(o_orderdate AS DATE) AS created_at
        |FROM orders ORDER BY orden_id""".stripMargin,

    "dim_line_item" ->
      """WITH occ AS (SELECT *,
        |  CAST((l_orderkey * 10 + l_linenumber) * 100 +
        |    row_number() OVER (PARTITION BY l_orderkey, l_linenumber
        |      ORDER BY l_partkey, l_suppkey, l_quantity, l_extendedprice,
        |        l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate)
        |    AS BIGINT) AS line_item_id
        |FROM lineitem)
        |SELECT line_item_id,
        |  l_orderkey AS orderkey, CAST(l_linenumber AS BIGINT) AS linenumber,
        |  p_name AS product_name,
        |  CAST(l_quantity AS DOUBLE) AS quantity,
        |  CAST(l_extendedprice AS DOUBLE) / CAST(l_quantity AS DOUBLE) AS unit_price
        |FROM occ JOIN part ON l_partkey = p_partkey
        |ORDER BY line_item_id""".stripMargin,

    "dim_detalle_venta" ->
      """WITH occ AS (SELECT *,
        |  CAST((l_orderkey * 10 + l_linenumber) * 100 +
        |    row_number() OVER (PARTITION BY l_orderkey, l_linenumber
        |      ORDER BY l_partkey, l_suppkey, l_quantity, l_extendedprice,
        |        l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate)
        |    AS BIGINT) AS detalle_id
        |FROM lineitem)
        |SELECT detalle_id,
        |  'SKU-' || CAST(l_partkey AS VARCHAR) AS codigo,
        |  CASE WHEN l_returnflag = 'R' THEN 'Devolucion registrada'
        |    WHEN l_linestatus = 'F' THEN 'Venta estandar (finalizada)'
        |    ELSE 'Venta estandar (abierta)' END AS descripcion
        |FROM occ ORDER BY detalle_id""".stripMargin,

    "dim_usuario" ->
      """SELECT user_id AS usuario_id, user_id AS usuario_externo_id,
        |  'usuario_' || CAST(user_id AS VARCHAR) AS username,
        |  'user' || CAST(user_id AS VARCHAR) || '@example.com' AS email,
        |  'Usuario ' || CAST(user_id AS VARCHAR) AS nombre_completo,
        |  TRUE AS activo,
        |  MIN(CAST(ts AS DATE)) AS created_at,
        |  MAX(CAST(ts AS DATE)) AS updated_at,
        |  count(*) AS n_events
        |FROM events GROUP BY user_id
        |ORDER BY usuario_id""".stripMargin,

    "dim_sitio_web" ->
      """WITH c(sitio_externo_id, nombre, url, tipo, activo) AS (VALUES
        |  (1, 'Tienda Online', 'https://shop.example.com', 'b2c', TRUE),
        |  (2, 'Portal Mayorista', 'https://b2b.example.com', 'b2b', TRUE),
        |  (3, 'Outlet', 'https://outlet.example.com', 'b2c', TRUE),
        |  (4, 'Marketplace', 'https://market.example.com', 'marketplace', TRUE),
        |  (5, 'Sitio Legado', 'https://legacy.example.com', 'b2c', FALSE))
        |SELECT CAST(sitio_externo_id AS BIGINT) AS sitio_externo_id,
        |  md5('web:' || CAST(sitio_externo_id AS VARCHAR)) AS sitio_sk,
        |  nombre, url, tipo, activo,
        |  CAST('2024-01-01' AS DATE) AS created_at,
        |  CAST('2024-01-01' AS DATE) AS updated_at
        |FROM c ORDER BY sitio_externo_id""".stripMargin,

    "fact_inventory_wh" ->
      """WITH agg AS (SELECT l_partkey, s_nationkey AS warehouse_code,
        |  count(*) AS n_movements,
        |  CAST(SUM(CASE WHEN l_returnflag <> 'R'
        |    THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_in,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R'
        |    THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_out,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R'
        |    THEN -CAST(l_quantity AS DECIMAL(12,2))
        |    ELSE CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS net_qty,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R'
        |    THEN -CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |      CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) AS DECIMAL(14,4))
        |    ELSE CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |      CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) AS DECIMAL(14,4))
        |    END) AS DOUBLE) AS net_value,
        |  MAX(CAST(l_shipdate AS DATE)) AS last_movement
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2)
        |SELECT p_partkey, warehouse_code,
        |  md5('wh:' || CAST(warehouse_code AS VARCHAR)) AS warehouse_sk,
        |  'WAREHOUSE ' || n_name AS warehouse_name, p_name,
        |  n_movements, qty_in, qty_out, net_qty, net_value, last_movement
        |FROM agg JOIN part ON l_partkey = p_partkey
        |JOIN nation ON warehouse_code = n_nationkey
        |ORDER BY p_partkey, warehouse_code""".stripMargin,

    "scd2_customer" ->
      """WITH daily AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS valid_from,
        |  count(*) AS orders_in_version,
        |  SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS spend_dec
        |FROM orders GROUP BY 1, 2)
        |SELECT o_custkey AS c_custkey,
        |  row_number() OVER w AS version_n,
        |  valid_from,
        |  lead(valid_from) OVER w AS valid_to,
        |  lead(valid_from) OVER w IS NULL AS is_current,
        |  orders_in_version,
        |  CAST(SUM(orders_in_version) OVER (PARTITION BY o_custkey ORDER BY valid_from
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_orders,
        |  CAST(SUM(spend_dec) OVER (PARTITION BY o_custkey ORDER BY valid_from
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_spend
        |FROM daily WINDOW w AS (PARTITION BY o_custkey ORDER BY valid_from)
        |ORDER BY c_custkey, version_n""".stripMargin,

    "validate_nulls" -> {
      val custCols = Seq("c_custkey" -> false, "c_name" -> true,
        "c_nationkey" -> false, "c_acctbal" -> false, "c_mktsegment" -> true)
      val ordCols = Seq("o_orderkey" -> false, "o_custkey" -> false,
        "o_orderstatus" -> true, "o_totalprice" -> false,
        "o_orderdate" -> false, "o_orderpriority" -> true)
      def sel(tbl: String, c: String, isStr: Boolean) = {
        val blank = if (isStr) s"count(CASE WHEN trim($c) = '' THEN 1 END)"
        else "CAST(0 AS BIGINT)"
        s"SELECT '$tbl' AS table_name, '$c' AS column_name, count(*) AS n_rows, " +
          s"count(*) - count($c) AS n_null, $blank AS n_blank FROM $tbl"
      }
      (custCols.map { case (c, s) => sel("customer", c, s) } ++
        ordCols.map { case (c, s) => sel("orders", c, s) })
        .mkString("", "\nUNION ALL\n", "\nORDER BY table_name, column_name")
    },

    "validate_ranges" ->
      """SELECT 'lineitem.qty_not_positive' AS rule, count(CASE WHEN l_quantity <= 0 THEN 1 END) AS n_violations FROM lineitem
        |UNION ALL SELECT 'lineitem.discount_out_of_range', count(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) FROM lineitem
        |UNION ALL SELECT 'lineitem.price_negative', count(CASE WHEN l_extendedprice < 0 THEN 1 END) FROM lineitem
        |UNION ALL SELECT 'lineitem.tax_negative', count(CASE WHEN l_tax < 0 THEN 1 END) FROM lineitem
        |UNION ALL SELECT 'lineitem.shipdate_null', count(CASE WHEN l_shipdate IS NULL THEN 1 END) FROM lineitem
        |UNION ALL SELECT 'events.value_null', count(CASE WHEN value IS NULL THEN 1 END) FROM events
        |UNION ALL SELECT 'events.ts_null', count(CASE WHEN ts IS NULL THEN 1 END) FROM events
        |ORDER BY rule""".stripMargin,

    "validate_ri" ->
      """SELECT 'lineitem->orders' AS check_name, count(*) AS n_orphans FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL SELECT 'lineitem->part', count(*) FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
        |UNION ALL SELECT 'lineitem->supplier', count(*) FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
        |UNION ALL SELECT 'orders->customer', count(*) FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL SELECT 'customer->nation', count(*) FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
        |UNION ALL SELECT 'nation->region', count(*) FROM nation n
        |  WHERE NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey)
        |ORDER BY check_name""".stripMargin,

    "validate_duplicates" ->
      """WITH d1 AS (SELECT md5(lower(trim(text))) AS k, count(*) AS n FROM documents GROUP BY 1),
        |d2 AS (SELECT user_id || '|' || event_type || '|' || CAST(ts AS VARCHAR) AS k, count(*) AS n FROM events GROUP BY 1),
        |d3 AS (SELECT CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) AS k, count(*) AS n FROM lineitem GROUP BY 1)
        |SELECT 'documents' AS table_name, 'norm_text_md5' AS key_name, count(*) AS n_keys,
        |  count(CASE WHEN n > 1 THEN 1 END) AS n_dup_keys,
        |  COALESCE(CAST(SUM(CASE WHEN n > 1 THEN n - 1 END) AS BIGINT), 0) AS n_surplus_rows FROM d1
        |UNION ALL SELECT 'events', 'user_type_ts', count(*),
        |  count(CASE WHEN n > 1 THEN 1 END),
        |  COALESCE(CAST(SUM(CASE WHEN n > 1 THEN n - 1 END) AS BIGINT), 0) FROM d2
        |UNION ALL SELECT 'lineitem', 'order_line', count(*),
        |  count(CASE WHEN n > 1 THEN 1 END),
        |  COALESCE(CAST(SUM(CASE WHEN n > 1 THEN n - 1 END) AS BIGINT), 0) FROM d3
        |ORDER BY table_name""".stripMargin,

    "reconcile_orders" ->
      s"""WITH li AS ($liCte),
         |lt AS (SELECT l_orderkey, SUM(net) AS line_net FROM li GROUP BY 1)
         |SELECT o_orderstatus, count(*) AS n_orders,
         |  count(CASE WHEN abs(CAST(o_totalprice AS DECIMAL(12,2)) -
         |    COALESCE(line_net, CAST(0 AS DECIMAL(14,4)))) > 1.0 THEN 1 END) AS n_mismatched,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) -
         |    COALESCE(line_net, CAST(0 AS DECIMAL(14,4)))) AS DOUBLE) AS total_diff
         |FROM orders LEFT JOIN lt ON o_orderkey = l_orderkey
         |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

    "q1_pricing_summary" ->
      s"""WITH li AS ($liCte)
         |SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(qt) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(ep) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM(net) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM(CAST(net * CAST(1 + tx AS DECIMAL(4,2)) AS DECIMAL(19,6))) AS DOUBLE) AS sum_charge,
         |  CAST(SUM(qt) AS DOUBLE)/count(*) AS avg_qty,
         |  CAST(SUM(ep) AS DOUBLE)/count(*) AS avg_price,
         |  CAST(SUM(dc) AS DOUBLE)/count(*) AS avg_disc,
         |  count(*) AS count_order
         |FROM li WHERE CAST(l_shipdate AS DATE) <= DATE '2000-12-01'
         |GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_unshipped" ->
      s"""WITH li AS ($liCte)
         |SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_orderpriority,
         |  CAST(SUM(net) AS DOUBLE) AS revenue
         |FROM li
         |JOIN orders ON l_orderkey = o_orderkey AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
         |JOIN customer ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
         |WHERE CAST(l_shipdate AS DATE) > DATE '1998-01-01'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, order_date, l_orderkey LIMIT 10""".stripMargin,

    "q5_region_volume" ->
      s"""WITH li AS ($liCte)
         |SELECT n_name, CAST(SUM(net) AS DOUBLE) AS revenue
         |FROM li
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
         |WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
         |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,

    "q7_nation_trade" ->
      s"""WITH li AS ($liCte)
         |SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         |  CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_year,
         |  CAST(SUM(net) AS DOUBLE) AS revenue, count(*) AS n_lines
         |FROM li
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |WHERE (cn.n_name = 'NATION_1' AND sn.n_name = 'NATION_2')
         |   OR (cn.n_name = 'NATION_2' AND sn.n_name = 'NATION_1')
         |GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, ship_year""".stripMargin,

    "q14_promo_share" ->
      s"""WITH li AS ($liCte),
         |j AS (SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS ship_month,
         |  net, p_type LIKE 'PROMO%' AS is_promo
         |  FROM li JOIN part ON l_partkey = p_partkey),
         |g AS (SELECT ship_month,
         |  CAST(COALESCE(SUM(CASE WHEN is_promo THEN net END), CAST(0 AS DECIMAL(14,4))) AS DOUBLE) AS promo_revenue,
         |  CAST(SUM(net) AS DOUBLE) AS total_revenue, count(*) AS n_lines
         |FROM j GROUP BY 1)
         |SELECT ship_month, promo_revenue, total_revenue, n_lines,
         |  100.0 * promo_revenue / total_revenue AS promo_pct
         |FROM g ORDER BY ship_month""".stripMargin,

    "q22_dormant_rich" ->
      """WITH a AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)/count(*) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0),
        |co AS (SELECT CAST(max(o_orderdate) AS DATE) - INTERVAL 24 MONTH AS cutoff FROM orders)
        |SELECT c_mktsegment, count(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_balance
        |FROM customer, a, co
        |WHERE c_acctbal > a.avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c_custkey
        |    AND CAST(o.o_orderdate AS DATE) >= co.cutoff)
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

    "q11_value_concentration" ->
      """WITH p AS (SELECT l_partkey,
        |  SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS value_dec,
        |  count(*) AS n_lines
        |FROM lineitem GROUP BY 1),
        |t AS (SELECT SUM(value_dec) AS total_dec FROM p)
        |SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value, n_lines
        |FROM p, t
        |WHERE value_dec > CAST(total_dec AS DECIMAL(24,2)) * CAST(0.0005 AS DECIMAL(12,6))
        |ORDER BY part_value DESC, l_partkey LIMIT 100""".stripMargin,

    "q13_order_distribution" ->
      """WITH c AS (SELECT c_custkey, count(o_orderkey) AS c_count
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1)
        |SELECT c_count, count(*) AS n_customers
        |FROM c GROUP BY 1 ORDER BY n_customers DESC, c_count DESC""".stripMargin,

    "supplier_scorecard" ->
      s"""WITH li AS ($liCte),
         |g AS (SELECT l_suppkey, count(*) AS n_lines,
         |  count(DISTINCT l_partkey) AS n_parts,
         |  CAST(SUM(net) AS DOUBLE) AS revenue,
         |  count(*) FILTER (CAST(l_shipdate AS DATE) <=
         |    CAST(o_orderdate AS DATE) + INTERVAL 30 DAY) AS n_on_time
         |FROM li JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1)
         |SELECT s_suppkey, s_name, n_lines, n_parts, revenue, n_on_time,
         |  CAST(n_on_time AS DOUBLE)/n_lines AS on_time_rate, s_acctbal
         |FROM g JOIN supplier ON l_suppkey = s_suppkey
         |ORDER BY s_suppkey""".stripMargin,

    "q21_waiting_suppliers" ->
      """WITH lines AS (SELECT l_orderkey, l_suppkey,
        |  CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 90 DAY AS is_late
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F'),
        |per_order AS (SELECT l_orderkey AS ok,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late_supp
        |FROM lines GROUP BY 1),
        |late AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lines WHERE is_late),
        |w AS (SELECT l_suppkey, count(*) AS n_waiting_orders
        |FROM late JOIN per_order ON l_orderkey = ok
        |WHERE n_supp > 1 AND n_late_supp = 1
        |GROUP BY 1)
        |SELECT s_suppkey, s_name, n_waiting_orders
        |FROM w JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY n_waiting_orders DESC, s_suppkey LIMIT 20""".stripMargin,

    "q17_small_qty_revenue" ->
      """WITH p AS (SELECT l_partkey AS pk,
        |  SUM(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY 1)
        |SELECT count(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)/7.0 AS avg_yearly
        |FROM lineitem JOIN p ON l_partkey = pk
        |WHERE CAST(l_quantity AS DECIMAL(12,2)) * 5 * cnt < total_qty""".stripMargin,

    "q8_market_share" ->
      s"""WITH li AS ($liCte),
         |j AS (SELECT year(CAST(o_orderdate AS DATE)) AS o_year, net,
         |  sn.n_name AS supp_nation
         |FROM li
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey),
         |g AS (SELECT CAST(o_year AS BIGINT) AS o_year,
         |  CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN net END) AS DOUBLE) AS nation_rev,
         |  CAST(SUM(net) AS DOUBLE) AS total_rev
         |FROM j GROUP BY 1)
         |SELECT o_year, COALESCE(nation_rev, 0.0) AS nation_rev, total_rev,
         |  COALESCE(nation_rev, 0.0) / total_rev AS mkt_share
         |FROM g ORDER BY o_year""".stripMargin,

    "q16_supplier_counts" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |j AS (SELECT p_brand, p_type, p_size, l_suppkey
        |  FROM ps JOIN part ON l_partkey = p_partkey
        |  WHERE p_type <> 'PROMO'
        |    AND l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0))
        |SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS n_suppliers
        |FROM j GROUP BY 1, 2, 3
        |ORDER BY n_suppliers DESC, p_brand, p_type, p_size LIMIT 100""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT count(*) AS n_lines,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(19,6))) AS DOUBLE) AS revenue_uplift
        |FROM lineitem
        |WHERE year(CAST(l_shipdate AS DATE)) = 1996
        |  AND CAST(l_discount AS DECIMAL(4,2)) BETWEEN 0.02 AND 0.04
        |  AND l_quantity < 24""".stripMargin,

    "q10_returned_customers" ->
      s"""WITH li AS ($liCte),
         |r AS (SELECT o_custkey, SUM(net) AS lost_dec, count(*) AS n_return_lines
         |  FROM li JOIN orders ON l_orderkey = o_orderkey
         |  WHERE l_returnflag = 'R'
         |    AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
         |    AND CAST(o_orderdate AS DATE) < DATE '1996-04-01'
         |  GROUP BY 1)
         |SELECT c_custkey, c_name, n_name AS nation,
         |  CAST(lost_dec AS DOUBLE) AS lost_revenue, n_return_lines
         |FROM r JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |ORDER BY lost_revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q12_lateness_by_flag" ->
      """SELECT l_returnflag,
        |  count(*) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS n_high_priority_late,
        |  count(*) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS n_low_priority_late
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 30 DAY
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    "q19_bracket_revenue" ->
      s"""WITH li AS ($liCte),
         |j AS (SELECT p_brand, net FROM li
         |  JOIN part ON l_partkey = p_partkey
         |  WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
         |     OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
         |     OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40))
         |SELECT p_brand, count(*) AS n_lines, CAST(SUM(net) AS DOUBLE) AS revenue
         |FROM j GROUP BY 1 ORDER BY p_brand""".stripMargin,

    "q2_min_cost_supp" ->
      """WITH costs AS (SELECT l_partkey, l_suppkey,
        |  MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost_dec
        |  FROM lineitem GROUP BY 1, 2),
        |pp AS (SELECT p_partkey, p_brand FROM part
        |  WHERE p_type = 'STANDARD' AND p_size <= 10),
        |sup AS (SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
        |j AS (SELECT * FROM costs JOIN pp ON l_partkey = p_partkey
        |  JOIN sup ON l_suppkey = s_suppkey),
        |m AS (SELECT *, MIN(cost_dec) OVER (PARTITION BY p_partkey) AS min_cost FROM j)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
        |  CAST(cost_dec AS DOUBLE) AS supply_cost
        |FROM m WHERE cost_dec = min_cost
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin,

    "q9_profit_nation" ->
      s"""WITH li AS ($liCte),
         |j AS (SELECT n_name AS nation,
         |  year(CAST(o_orderdate AS DATE)) AS o_year,
         |  CAST(net AS DECIMAL(21,6)) -
         |    CAST(CAST(CAST(p_retailprice AS DECIMAL(12,2)) * qt AS DECIMAL(25,4))
         |      * CAST(0.1 AS DECIMAL(4,2)) AS DECIMAL(21,6)) AS amount_dec
         |  FROM li
         |  JOIN part ON l_partkey = p_partkey AND p_name LIKE 'red%'
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  JOIN orders ON l_orderkey = o_orderkey)
         |SELECT nation, CAST(o_year AS BIGINT) AS o_year,
         |  CAST(SUM(amount_dec) AS DOUBLE) AS profit
         |FROM j GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "q15_top_supplier" ->
      s"""WITH li AS ($liCte),
         |rev AS (SELECT l_suppkey, SUM(net) AS rev_dec FROM li
         |  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
         |    AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE rev_dec = (SELECT MAX(rev_dec) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,

    "q20_excess_share" ->
      """WITH q AS (SELECT l_partkey, l_suppkey,
        |  SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty_dec
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'small%' GROUP BY 1, 2),
        |f AS (SELECT l_suppkey FROM (
        |  SELECT l_suppkey, qty_dec,
        |    SUM(qty_dec) OVER (PARTITION BY l_partkey) AS tot_dec FROM q)
        |  WHERE qty_dec > tot_dec * CAST(0.08 AS DECIMAL(4,2))),
        |d AS (SELECT DISTINCT l_suppkey FROM f)
        |SELECT s_suppkey, s_name, n_name
        |FROM d JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |ORDER BY s_suppkey""".stripMargin,

    "top_customers" ->
      s"""WITH li AS ($liCte),
         |rev AS (SELECT o_custkey, CAST(SUM(net) AS DOUBLE) AS revenue, count(*) AS n_lines
         |  FROM li JOIN orders ON l_orderkey = o_orderkey GROUP BY 1),
         |top AS (SELECT c_custkey, c_name, c_mktsegment, revenue, n_lines
         |  FROM rev JOIN customer ON o_custkey = c_custkey
         |  ORDER BY revenue DESC, c_custkey LIMIT 25)
         |SELECT row_number() OVER (ORDER BY revenue DESC, c_custkey) AS rank,
         |  c_custkey, c_name, c_mktsegment, revenue, n_lines
         |FROM top ORDER BY rank""".stripMargin,

    "window_topk_per_brand" ->
      """WITH r AS (SELECT p_brand, p_partkey, p_name, p_retailprice,
        |  row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS brand_rank
        |FROM part)
        |SELECT p_brand, brand_rank, p_partkey, p_name, p_retailprice
        |FROM r WHERE brand_rank <= 3 ORDER BY p_brand, brand_rank""".stripMargin,

    "running_monthly_revenue" ->
      """WITH m AS (SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
        |  count(*) AS n_orders, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
        |FROM orders GROUP BY 1)
        |SELECT month, n_orders, CAST(rev AS DOUBLE) AS revenue,
        |  CAST(SUM(rev) OVER (ORDER BY month ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cumulative_revenue
        |FROM m ORDER BY month""".stripMargin,

    // NTILE semantics (floor/ceil bucket fill) are standard-SQL
    // identical in both engines; custkey tie-breaks pin assignment.
    "rfm_segments" ->
      """WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS max_date FROM orders),
        |c AS (SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_order,
        |  CAST(count(*) AS BIGINT) AS frequency,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS monetary
        |FROM orders GROUP BY 1),
        |r AS (SELECT o_custkey, CAST(datediff('day', last_order, max_date) AS BIGINT) AS recency_days,
        |  frequency, monetary FROM c CROSS JOIN mx),
        |s AS (SELECT o_custkey, recency_days, frequency, monetary,
        |  CAST(ntile(4) OVER (ORDER BY recency_days DESC, o_custkey) AS BIGINT) AS r_score,
        |  CAST(ntile(4) OVER (ORDER BY frequency, o_custkey) AS BIGINT) AS f_score,
        |  CAST(ntile(4) OVER (ORDER BY monetary, o_custkey) AS BIGINT) AS m_score
        |FROM r)
        |SELECT o_custkey, recency_days, frequency, monetary, r_score, f_score, m_score,
        |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS segment
        |FROM s ORDER BY o_custkey""".stripMargin,

    // lift = n_pair·N/(n_a·n_b): one division of exact integer
    // products — engine-identical doubles, the tf-idf discipline.
    "basket_pairs" ->
      """WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM i),
        |s AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_part FROM i GROUP BY 1),
        |p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  CAST(count(*) AS BIGINT) AS n_pair
        |FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2),
        |j AS (SELECT part_a, part_b, n_pair, sa.n_part AS n_a, sb.n_part AS n_b,
        |  CAST(n_pair * n_orders AS DOUBLE) / CAST(sa.n_part * sb.n_part AS DOUBLE) AS lift
        |FROM p JOIN s sa ON p.part_a = sa.l_partkey JOIN s sb ON p.part_b = sb.l_partkey
        |  CROSS JOIN n
        |ORDER BY n_pair DESC, part_a, part_b LIMIT 100)
        |SELECT CAST(row_number() OVER (ORDER BY n_pair DESC, part_a, part_b) AS BIGINT) AS rank,
        |  part_a, part_b, n_pair, n_a, n_b, lift
        |FROM j ORDER BY rank""".stripMargin,

    // months_since is pure integer year/month arithmetic on both
    // sides — no engine month-diff semantics involved.
    "cohort_retention" ->
      """WITH f AS (SELECT o_custkey,
        |  min(date_trunc('month', CAST(o_orderdate AS DATE))) AS cohort_month
        |FROM orders GROUP BY 1),
        |cs AS (SELECT cohort_month, CAST(count(DISTINCT o_custkey) AS BIGINT) AS cohort_size
        |  FROM f GROUP BY 1),
        |o AS (SELECT o_custkey, date_trunc('month', CAST(o_orderdate AS DATE)) AS order_month,
        |  CAST(o_totalprice AS DECIMAL(12,2)) AS tp FROM orders),
        |j AS (SELECT o.o_custkey, f.cohort_month, o.order_month, o.tp,
        |  CAST((year(o.order_month) * 12 + month(o.order_month))
        |    - (year(f.cohort_month) * 12 + month(f.cohort_month)) AS BIGINT) AS months_since
        |FROM o JOIN f ON o.o_custkey = f.o_custkey),
        |c AS (SELECT cohort_month, months_since,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_active,
        |  CAST(sum(tp) AS DOUBLE) AS revenue
        |FROM j WHERE months_since < 12 GROUP BY 1, 2)
        |SELECT c.cohort_month, months_since, cohort_size, n_active,
        |  CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention, revenue
        |FROM c JOIN cs ON c.cohort_month = cs.cohort_month
        |ORDER BY c.cohort_month, months_since""".stripMargin,

    "rollup_sales" ->
      """WITH o AS (SELECT year(CAST(o_orderdate AS DATE)) AS yr, o_orderpriority AS prio,
        |  CAST(o_totalprice AS DECIMAL(12,2)) AS tp FROM orders)
        |SELECT CAST(CASE WHEN grouping(yr) = 1 THEN -1 ELSE yr END AS BIGINT) AS year_d,
        |  CASE WHEN grouping(prio) = 1 THEN 'ALL' ELSE prio END AS priority_d,
        |  count(*) AS n_orders, CAST(SUM(tp) AS DOUBLE) AS revenue
        |FROM o GROUP BY ROLLUP(yr, prio)
        |ORDER BY year_d, priority_d""".stripMargin,

    "pivot_status_priority" -> {
      val prios = Seq("1-URGENT" -> "urgent", "2-HIGH" -> "high",
        "3-MEDIUM" -> "medium", "4-NOT SPECIFIED" -> "notspec", "5-LOW" -> "low")
      val cols = prios.map { case (p, n) =>
        s"count(CASE WHEN o_orderpriority = '$p' THEN 1 END) AS n_$n,\n" +
          s"  CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '$p' THEN CAST(o_totalprice AS DECIMAL(12,2)) END), 0) AS DOUBLE) AS rev_$n"
      }.mkString(",\n  ")
      s"SELECT o_orderstatus,\n  $cols\nFROM orders GROUP BY 1 ORDER BY o_orderstatus"
    },

    "order_value_percentiles" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
        |  round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
        |  round(quantile_cont(o_totalprice, 0.99), 2) AS p99
        |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    "asof_join_events_orders" ->
      """WITH ord AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
        |  arg_max(o_totalprice, o_orderkey) AS o_totalprice
        |FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS event_date,
        |  o.o_orderkey, CAST(o.o_orderdate AS DATE) AS order_date, o.o_totalprice
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') e
        |ASOF LEFT JOIN ord o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY event_id""".stripMargin,

    "pit_join_scd2" ->
      """WITH daily AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS valid_from,
        |  count(*) AS orders_in_version,
        |  SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS spend_dec
        |FROM orders GROUP BY 1, 2),
        |scd AS (SELECT o_custkey AS c_custkey,
        |  row_number() OVER w AS version_n,
        |  valid_from,
        |  lead(valid_from) OVER w AS valid_to,
        |  CAST(SUM(orders_in_version) OVER (PARTITION BY o_custkey ORDER BY valid_from
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_orders,
        |  CAST(SUM(spend_dec) OVER (PARTITION BY o_custkey ORDER BY valid_from
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_spend
        |FROM daily WINDOW w AS (PARTITION BY o_custkey ORDER BY valid_from))
        |SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS event_date,
        |  s.version_n, s.valid_from, s.cum_orders, s.cum_spend
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') e
        |JOIN scd s ON e.user_id = s.c_custkey
        |  AND CAST(e.ts AS DATE) >= s.valid_from
        |  AND (s.valid_to IS NULL OR CAST(e.ts AS DATE) < s.valid_to)
        |ORDER BY event_id""".stripMargin,

    // identical contract to asof_join_events_orders — the DuckDB ASOF
    // oracle pins BOTH the union-window and the custom-exec paths
    "asof_join_custom" ->
      """WITH ord AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
        |  arg_max(o_totalprice, o_orderkey) AS o_totalprice
        |FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS event_date,
        |  o.o_orderkey, CAST(o.o_orderdate AS DATE) AS order_date, o.o_totalprice
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') e
        |ASOF LEFT JOIN ord o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY event_id""".stripMargin,

    "sessionize_events" ->
      """WITH f AS (SELECT user_id, ts, event_id, event_type, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR epoch_us(ts)//1000000 - epoch_us(lag(ts) OVER w)//1000000 > 1800
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS UNBOUNDED PRECEDING) AS session_n FROM f)
        |SELECT user_id, CAST(session_n AS BIGINT) AS session_n, count(*) AS n_events,
        |  count(DISTINCT event_type) AS n_event_types,
        |  epoch_us(max(ts))//1000000 - epoch_us(min(ts))//1000000 AS duration_sec,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, session_n ORDER BY user_id, session_n""".stripMargin,

    "events_session_window" ->
      """WITH f AS (SELECT user_id, ts, event_id, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    "funnel_signup_purchase" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'view' AND e.ts >= s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'click' AND e.ts >= s2.t2 GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(e.ts) AS t4 FROM events e JOIN s3 ON e.user_id = s3.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= s3.t3 GROUP BY 1)
        |SELECT 1 AS stage_n, 'signup' AS stage, count(*) AS n_users FROM s1
        |UNION ALL SELECT 2, 'view_after_signup', count(*) FROM s2
        |UNION ALL SELECT 3, 'click_after_view', count(*) FROM s3
        |UNION ALL SELECT 4, 'purchase_after_click', count(*) FROM s4
        |ORDER BY stage_n""".stripMargin,

    "dedup_events_latest" ->
      """WITH r AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |  ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |SELECT user_id, event_type, event_id, CAST(ts AS DATE) AS last_date,
        |  CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "events_json_kv" ->
      """SELECT event_type, count(*) AS n_events, count(k) AS n_with_k,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(SUM(k) AS DOUBLE)/count(k) AS avg_k
        |FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events) t
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    "events_retention" ->
      """WITH a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS activity_week
        |  FROM events),
        |c AS (SELECT user_id, min(activity_week) AS cohort_week FROM a GROUP BY 1)
        |SELECT c.cohort_week,
        |  date_diff('day', c.cohort_week, a.activity_week) // 7 AS week_n,
        |  count(*) AS n_active_users
        |FROM a JOIN c ON a.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY cohort_week, week_n""".stripMargin,

    "events_anomaly" ->
      """WITH m AS (SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s2
        |FROM events GROUP BY 1),
        |mm AS (SELECT event_type AS et, s1/n AS mean_value,
        |  sqrt((s2 - s1*s1/n)/(n-1)) AS std_value FROM m)
        |SELECT e.event_type, count(*) AS n_events,
        |  round(min(mean_value), 6) AS mean_value, round(min(std_value), 6) AS std_value,
        |  count(CASE WHEN abs(e.value - mean_value) > std_value * 3 THEN 1 END) AS n_outliers
        |FROM events e JOIN mm ON e.event_type = mm.et
        |GROUP BY 1 ORDER BY e.event_type""".stripMargin,

    "events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    // the identical md5 hash family on both sides (the LSH-plane
    // single-source-of-truth convention)
    "events_heavy_hitters" ->
      """WITH seeds AS (SELECT unnest(range(3)) AS i),
        |cells AS (SELECT s.i AS i,
        |    ('0x' || substr(md5('cms' || CAST(s.i AS VARCHAR) || ':' ||
        |      CAST(e.user_id AS VARCHAR)), 1, 15))::BIGINT % 1024 AS b,
        |    count(*) AS cnt
        |  FROM events e CROSS JOIN seeds s GROUP BY 1, 2),
        |users AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
        |probes AS (SELECT u.user_id, u.n_events, s.i AS i,
        |    ('0x' || substr(md5('cms' || CAST(s.i AS VARCHAR) || ':' ||
        |      CAST(u.user_id AS VARCHAR)), 1, 15))::BIGINT % 1024 AS b
        |  FROM users u CROSS JOIN seeds s)
        |SELECT p.user_id, p.n_events, min(c.cnt) AS cms_est
        |FROM probes p JOIN cells c ON c.i = p.i AND c.b = p.b
        |GROUP BY 1, 2
        |ORDER BY cms_est DESC, user_id LIMIT 50""".stripMargin,

    // full-corpus cells (the merged sketch ≡ one-shot by associativity),
    // probes restricted to the arriving batch's keys
    "events_heavy_hitters_incremental" ->
      """WITH seeds AS (SELECT unnest(range(3)) AS i),
        |cells AS (SELECT s.i AS i,
        |    ('0x' || substr(md5('cms' || CAST(s.i AS VARCHAR) || ':' ||
        |      CAST(e.user_id AS VARCHAR)), 1, 15))::BIGINT % 1024 AS b,
        |    count(*) AS cnt
        |  FROM events e CROSS JOIN seeds s GROUP BY 1, 2),
        |bu AS (SELECT DISTINCT user_id FROM events
        |  WHERE ('0x' || substr(md5('split:' || CAST(event_id AS VARCHAR)), 1, 4))::BIGINT % 10 >= 8),
        |probes AS (SELECT u.user_id, s.i AS i,
        |    ('0x' || substr(md5('cms' || CAST(s.i AS VARCHAR) || ':' ||
        |      CAST(u.user_id AS VARCHAR)), 1, 15))::BIGINT % 1024 AS b
        |  FROM bu u CROSS JOIN seeds s)
        |SELECT p.user_id, min(c.cnt) AS cms_est
        |FROM probes p JOIN cells c ON c.i = p.i AND c.b = p.b
        |GROUP BY 1
        |ORDER BY cms_est DESC, user_id LIMIT 50""".stripMargin,

    "text_stats" ->
      """WITH s AS (SELECT doc_id, text, lower(trim(text)) AS nt,
        |  string_split(lower(trim(text)), ' ') AS tk FROM documents)
        |SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(tk) AS n_tokens,
        |  CAST(length(replace(nt, ' ', '')) AS DOUBLE)/len(tk) AS avg_word_len,
        |  length(text) - length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_alnum_space,
        |  CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)/length(text) AS punct_ratio,
        |  CAST(len(list_filter(tk, x -> x IN ('the','a','and','of','to'))) AS DOUBLE)/len(tk) AS stopword_ratio
        |FROM s ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      """WITH s AS (SELECT doc_id, length(text) AS nc,
        |  string_split(lower(trim(text)), ' ') AS tk,
        |  CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)/length(text) AS pr
        |FROM documents),
        |v AS (SELECT doc_id,
        |  CASE WHEN nc BETWEEN 100 AND 2000 THEN 1 ELSE 0 END AS s1,
        |  CASE WHEN len(tk) >= 20 THEN 1 ELSE 0 END AS s2,
        |  CASE WHEN CAST(len(list_filter(tk, x -> x IN ('the','a','and','of','to'))) AS DOUBLE)/len(tk)
        |    BETWEEN 0.02 AND 0.6 THEN 1 ELSE 0 END AS s3,
        |  CASE WHEN pr < 0.1 THEN 1 ELSE 0 END AS s4 FROM s)
        |SELECT doc_id, CAST(s1 AS BIGINT) AS s_length, CAST(s2 AS BIGINT) AS s_tokens,
        |  CAST(s3 AS BIGINT) AS s_stopwords, CAST(s4 AS BIGINT) AS s_punct,
        |  CAST(s1 + s2 + s3 + s4 AS DOUBLE)/4.0 AS quality_score,
        |  (s1 + s2 + s3 + s4) >= 3 AS keep
        |FROM v ORDER BY doc_id""".stripMargin,

    // Character-histogram entropy: log2 is only ulp-correct per engine,
    // so the published value is integer microbits — floor(x*1e6+0.5) —
    // where the accumulated cross-engine drift (~1e-14 bits) is a 1e-8
    // fraction of the step. Charization is position-indexed substr in
    // BOTH engines (split-on-empty edge rules differ); DuckDB range()
    // is end-exclusive so range(1, n+1) ≡ Spark sequence(1, n); fold
    // order is the proven list_sum(list_transform(...)) ↔ aggregate()
    // left-to-right pairing.
    "doc_char_entropy" ->
      """WITH t AS (SELECT doc_id, lower(trim(text)) AS nt FROM documents),
        |c AS (SELECT doc_id, list_transform(range(1, length(nt)+1),
        |  i -> substr(nt, i, 1)) AS cs FROM t),
        |d AS (SELECT doc_id, cs, list_sort(list_distinct(cs)) AS dc FROM c),
        |k AS (SELECT doc_id, len(cs) AS n_chars,
        |  list_transform(dc, ch -> CAST(len(list_filter(cs, x -> x = ch)) AS BIGINT)) AS counts
        |FROM d)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(len(counts) AS BIGINT) AS n_distinct_chars,
        |  CAST(list_max(counts) AS BIGINT) AS top_char_count,
        |  CAST(list_max(counts) AS DOUBLE) / n_chars AS top_char_ratio,
        |  CAST(floor((log2(CAST(n_chars AS DOUBLE)) -
        |    list_sum(list_transform(counts, c -> c * log2(CAST(c AS DOUBLE)))) / n_chars)
        |    * 1000000 + 0.5) AS BIGINT) AS entropy_microbits
        |FROM k ORDER BY doc_id""".stripMargin,

    // Gopher rules (Rae et al. 2021 table A1): integer counts and exact
    // rational ratios only — no transcendentals, regex restricted to
    // the Java↔RE2 common subset. '...' count via replace-delta works
    // identically in both engines (non-overlapping, left-to-right).
    // composite of the four verified signals — each CTE block restates
    // its source oracle verbatim (gopher / repetition-g3 / entropy /
    // gate), joined on doc_id exactly like the Spark composition
    "doc_quality_verdict" ->
      s"""WITH $verdictCtes
        |SELECT g.doc_id, g.gopher_keep, r.is_repetitive,
        |  e.em BETWEEN 1000000 AND 6000000 AS entropy_ok,
        |  sc.score_micro >= th.threshold_micro AS gate_keep,
        |  g.gopher_keep AND NOT r.is_repetitive
        |    AND (e.em BETWEEN 1000000 AND 6000000)
        |    AND sc.score_micro >= th.threshold_micro AS keep
        |FROM gq g JOIN rp r USING (doc_id) JOIN en e USING (doc_id)
        |JOIN sc USING (doc_id) JOIN th ON sc.lang = th.lang
        |ORDER BY g.doc_id""".stripMargin,

    "quality_classifier" ->
      s"""WITH $clfBase${clfIters(3)}
        |SELECT 'x0' AS feature, w0 AS weight FROM w3
        |UNION ALL SELECT 'x1', w1 FROM w3
        |UNION ALL SELECT 'x2', w2 FROM w3
        |UNION ALL SELECT 'x3', w3 FROM w3
        |UNION ALL SELECT 'x4', w4 FROM w3
        |ORDER BY feature""".stripMargin,

    "quality_classifier_score" ->
      s"""WITH $clfBase${clfIters(3)},
        |zs AS (SELECT f.*,
        |  (w.w0 * x0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3 + w.w4 * x4) AS z
        |FROM ft f CROSS JOIN w3 w),
        |ps AS (SELECT doc_id, 0.5*(1 + z/(1+abs(z))) AS score, y FROM zs)
        |SELECT doc_id, score, score >= 0.5 AS predicted_keep,
        |  y = 1.0 AS keep
        |FROM ps ORDER BY doc_id""".stripMargin,

    // the full curation pipeline: verdict ∧ not-exact-dup filter the
    // corpus (dedup canonical = corpus-wide min doc_id — the
    // dedup_exact window restated), then the budget selection meters
    // the SURVIVING docs (selectBudget's CTEs over sv)
    "corpus_curate" ->
      s"""WITH $verdictCtes,
        |vd AS (SELECT g.doc_id,
        |  g.gopher_keep AND NOT r.is_repetitive
        |    AND (e.em BETWEEN 1000000 AND 6000000)
        |    AND sc.score_micro >= th.threshold_micro AS keep
        |FROM gq g JOIN rp r USING (doc_id) JOIN en e USING (doc_id)
        |JOIN sc USING (doc_id) JOIN th ON sc.lang = th.lang),
        |dd AS (SELECT doc_id,
        |  doc_id <> min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS is_dup
        |FROM documents),
        |sv AS (SELECT sc.doc_id, sc.lang, sc.n_tokens, sc.score_micro
        |FROM sc JOIN vd USING (doc_id) JOIN dd USING (doc_id)
        |WHERE vd.keep AND NOT dd.is_dup),
        |bh AS (SELECT lang, score_micro, sum(n_tokens) AS bucket_tokens
        |  FROM sv GROUP BY 1, 2),
        |bc AS (SELECT lang, score_micro,
        |  sum(bucket_tokens) OVER (PARTITION BY lang ORDER BY score_micro DESC) AS cum_tokens
        |FROM bh),
        |bt AS (SELECT lang, min(score_micro) AS threshold_micro FROM bc
        |  WHERE cum_tokens <= 500 GROUP BY lang)
        |SELECT sv.doc_id, sv.lang, sv.n_tokens, sv.score_micro, bt.threshold_micro,
        |  bt.threshold_micro IS NOT NULL AND sv.score_micro >= bt.threshold_micro AS kept
        |FROM sv LEFT JOIN bt USING (lang) ORDER BY sv.doc_id""".stripMargin,

    // The r16 selector switch's dsir path: the SAME verdict+dedup
    // survivor CTEs, then the DSIR model + top-k tail trained on the
    // SURVIVOR frame itself (target = its lang='en' slice).
    "corpus_curate_dsir" ->
      s"""WITH $verdictCtes,
        |vd AS (SELECT g.doc_id,
        |  g.gopher_keep AND NOT r.is_repetitive
        |    AND (e.em BETWEEN 1000000 AND 6000000)
        |    AND sc.score_micro >= th.threshold_micro AS keep
        |FROM gq g JOIN rp r USING (doc_id) JOIN en e USING (doc_id)
        |JOIN sc USING (doc_id) JOIN th ON sc.lang = th.lang),
        |dd AS (SELECT doc_id,
        |  doc_id <> min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS is_dup
        |FROM documents),
        |cd AS (SELECT d.doc_id, d.text, d.lang, d.source FROM documents d
        |  JOIN vd USING (doc_id) JOIN dd USING (doc_id)
        |  WHERE vd.keep AND NOT dd.is_dup),
        |${dsirCtesOver("cd")}
        |SELECT dw.doc_id, c.lang, c.source, dw.n_feats, dw.weight_micro
        |FROM dw JOIN cd c USING (doc_id)
        |ORDER BY weight_micro DESC, doc_id LIMIT 25""".stripMargin,

    // The r8 selector switch's priority path: the SAME verdict+dedup
    // survivor CTEs, then the A-Res tail (prioritySampleSql's
    // hash-priority arithmetic verbatim) over the survivors.
    "corpus_curate_priority" ->
      s"""WITH $verdictCtes,
        |vd AS (SELECT g.doc_id,
        |  g.gopher_keep AND NOT r.is_repetitive
        |    AND (e.em BETWEEN 1000000 AND 6000000)
        |    AND sc.score_micro >= th.threshold_micro AS keep
        |FROM gq g JOIN rp r USING (doc_id) JOIN en e USING (doc_id)
        |JOIN sc USING (doc_id) JOIN th ON sc.lang = th.lang),
        |dd AS (SELECT doc_id,
        |  doc_id <> min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS is_dup
        |FROM documents),
        |sv AS (SELECT d.doc_id, d.source, d.lang FROM documents d
        |JOIN vd USING (doc_id) JOIN dd USING (doc_id)
        |WHERE vd.keep AND NOT dd.is_dup),
        |s0 AS (SELECT doc_id, source, lang,
        |  CAST(CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 0.9
        |    WHEN CAST(substr(source, 4) AS INT) < 10 THEN 0.5
        |    WHEN CAST(substr(source, 4) AS INT) < 15 THEN 0.25
        |    ELSE 0.1 END AS DOUBLE) AS weight,
        |  (('0x' || substr(md5('ares:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT * 2 + 1)
        |    / CAST(536870912 AS DOUBLE) AS u
        |FROM sv),
        |sp AS (SELECT doc_id, source, lang, weight,
        |  CAST(floor(log2(u) / weight * 1000000 + 0.5) AS BIGINT) AS priority_micro FROM s0),
        |tp AS (SELECT * FROM sp ORDER BY priority_micro DESC, doc_id LIMIT 25)
        |SELECT CAST(row_number() OVER (ORDER BY priority_micro DESC, doc_id) AS BIGINT) AS rank,
        |  doc_id, source, lang, weight, priority_micro
        |FROM tp ORDER BY rank""".stripMargin,

    // integer micro-unit scores + histogram-cumulative threshold: the
    // keep rule is pure integer logic, so the gate reproduces exactly
    // (no interpolated-percentile boundary flake)
    "quality_gate_relative" -> qualityGateSql,
    // the two-increment histogram carry is associative, so the settled
    // result IS the one-shot gate — one oracle, two execution stagings
    "quality_gate_incremental" -> qualityGateSql,

    // exact counts only cross the oracle (min/max restricted to numeric
    // columns as doubles — string/timestamp rendering differs across
    // engines and is deliberately out of the verified surface)
    "table_profile_orders" ->
      """WITH p AS (
        |  SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
        |    count(*) - count(o_orderkey) AS n_nulls,
        |    count(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(min(o_orderkey) AS DOUBLE) AS min_num,
        |    CAST(max(o_orderkey) AS DOUBLE) AS max_num FROM orders
        |  UNION ALL SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
        |    count(DISTINCT o_custkey), CAST(min(o_custkey) AS DOUBLE),
        |    CAST(max(o_custkey) AS DOUBLE) FROM orders
        |  UNION ALL SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |    count(DISTINCT o_orderstatus), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM orders
        |  UNION ALL SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
        |    count(DISTINCT o_totalprice), min(o_totalprice), max(o_totalprice) FROM orders
        |  UNION ALL SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
        |    count(DISTINCT o_orderdate), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM orders
        |  UNION ALL SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
        |    count(DISTINCT o_orderpriority), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM orders)
        |SELECT * FROM p ORDER BY column_name""".stripMargin,

    // one operation order for the bucket math — width once, then
    // (x-lo)/width — so the floor boundaries are IEEE-identical
    "column_histogram_totalprice" ->
      """WITH b AS (SELECT CAST(min(o_totalprice) AS DOUBLE) AS lo,
        |  CAST(max(o_totalprice) AS DOUBLE) AS hi FROM orders),
        |x AS (SELECT CAST(o_totalprice AS DOUBLE) AS x, lo, hi
        |  FROM orders, b WHERE o_totalprice IS NOT NULL),
        |a AS (SELECT CASE WHEN hi = lo THEN 0
        |    ELSE CAST(least(floor((x - lo) / ((hi - lo) / 20.0)), 19.0) AS BIGINT)
        |  END AS bucket, x, lo, hi FROM x)
        |SELECT bucket,
        |  lo + bucket * ((hi - lo) / 20.0) AS bucket_lo,
        |  lo + (bucket + 1) * ((hi - lo) / 20.0) AS bucket_hi,
        |  count(*) AS n_rows, min(x) AS min_val, max(x) AS max_val
        |FROM a GROUP BY bucket, lo, hi ORDER BY bucket""".stripMargin,

    "quality_gopher" ->
      """WITH t AS (SELECT doc_id, text, lower(trim(text)) AS nt,
        |  string_split(lower(trim(text)), ' ') AS tk FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(tk) AS BIGINT) AS n_words,
        |  CAST(length(replace(nt, ' ', '')) AS DOUBLE) / len(tk) AS mean_word_len,
        |  ((length(text) - length(replace(text, '#', ''))) +
        |   (length(text) - length(replace(text, '...', ''))) / 3) / len(tk) AS symbol_word_ratio,
        |  CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(tk) AS alpha_word_ratio,
        |  CAST(len(list_filter(tk, x -> x IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS n_stopword_hits
        |FROM t)
        |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
        |  alpha_word_ratio, n_stopword_hits,
        |  n_words BETWEEN 50 AND 100000 AS r_word_count,
        |  mean_word_len BETWEEN 3.0 AND 10.0 AS r_word_len,
        |  symbol_word_ratio <= 0.1 AS r_symbols,
        |  alpha_word_ratio >= 0.8 AS r_alpha,
        |  n_stopword_hits >= 2 AS r_stopwords,
        |  (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |    AND symbol_word_ratio <= 0.1 AND alpha_word_ratio >= 0.8
        |    AND n_stopword_hits >= 2 AS keep
        |FROM s ORDER BY doc_id""".stripMargin,

    // Cross-doc passage dedup over CONTENT-DEFINED chunks (r10): a
    // token starts a new passage iff its md5's last hex nibble is '0'
    // (p=1/16 → expected 16-token grain), so a shared block chunks
    // identically at ANY offset — the fixed 16-token windows this
    // oracle used through r9 missed duplicates offset by <16 tokens.
    // r11 adds the standard CDC max bound: a boundary is FORCED every
    // 64 tokens of an anchor-free run. Spark folds that sequentially;
    // here it is CLOSED-FORM because forced breaks are periodic from
    // the last anchor — gs = running max anchor position, boundary ⟺
    // anchor OR (i − gs) divisible by 64 — a genuinely independent
    // restatement, not the fold transcribed. generate_subscripts zips
    // positionally with unnest; chunks of < 4 tokens are too weak to
    // key and carry no passage grain. Integer counts + one exact
    // rational division.
    "passage_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk FROM documents),
        |e AS (SELECT doc_id, unnest(tk) AS tok, generate_subscripts(tk, 1) AS i FROM t),
        |g AS (SELECT doc_id, tok, i,
        |  (i = 1 OR substr(md5(tok), 32, 1) = '0') AS anch,
        |  max(CASE WHEN i = 1 OR substr(md5(tok), 32, 1) = '0' THEN i END)
        |    OVER (PARTITION BY doc_id ORDER BY i) AS gs FROM e),
        |c AS (SELECT doc_id, tok, i,
        |  sum(CASE WHEN (anch AND i > 1) OR (NOT anch AND (i - gs) % 64 = 0)
        |    THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY i) AS cid FROM g),
        |p AS (SELECT doc_id, cid, string_agg(tok, ' ' ORDER BY i) AS passage,
        |  count(*) AS ntok FROM c GROUP BY doc_id, cid),
        |s AS (SELECT doc_id, md5(passage) AS passage_md5 FROM p WHERE ntok >= 4),
        |d AS (SELECT passage_md5, CAST(count(DISTINCT doc_id) AS BIGINT) AS passage_df
        |  FROM s GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages,
        |  CAST(sum(CASE WHEN passage_df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_passages,
        |  max(passage_df) AS max_passage_df,
        |  CAST(sum(CASE WHEN passage_df > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS shared_passage_ratio
        |FROM s JOIN d USING (passage_md5)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Passage SCRUB over the same content-defined chunks: remove every
    // cross-doc duplicated (≥4-token) chunk except in its canonical
    // (min doc_id) host; sub-4-token chunks are never keyed and always
    // survive. Chunks PARTITION the token stream, so the rebuild is
    // string_agg of kept chunks in order and removed tokens are
    // accounted one-for-one. Grouping on the passage STRING (vs
    // Spark's md5 key) is value-identical; string_agg ignores the
    // NULLed-out removed passages.
    "passage_scrub" ->
      """WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk FROM documents),
        |e AS (SELECT doc_id, unnest(tk) AS tok, generate_subscripts(tk, 1) AS i FROM t),
        |g AS (SELECT doc_id, tok, i,
        |  (i = 1 OR substr(md5(tok), 32, 1) = '0') AS anch,
        |  max(CASE WHEN i = 1 OR substr(md5(tok), 32, 1) = '0' THEN i END)
        |    OVER (PARTITION BY doc_id ORDER BY i) AS gs FROM e),
        |c AS (SELECT doc_id, tok, i,
        |  sum(CASE WHEN (anch AND i > 1) OR (NOT anch AND (i - gs) % 64 = 0)
        |    THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY i) AS cid FROM g),
        |p AS (SELECT doc_id, cid, string_agg(tok, ' ' ORDER BY i) AS passage,
        |  CAST(count(*) AS BIGINT) AS ntok FROM c GROUP BY doc_id, cid),
        |o AS (SELECT passage, count(DISTINCT doc_id) AS passage_df,
        |  min(doc_id) AS owner_doc FROM p WHERE ntok >= 4 GROUP BY 1),
        |k AS (SELECT p.doc_id, p.cid, p.passage, p.ntok, p.ntok >= 4 AS keyed,
        |  coalesce(o.passage_df = 1 OR p.doc_id = o.owner_doc, TRUE) AS keep_passage
        |FROM p LEFT JOIN o ON p.passage = o.passage AND p.ntok >= 4)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN keyed THEN 1 ELSE 0 END) AS BIGINT) AS n_passages,
        |  CAST(sum(CASE WHEN NOT keep_passage THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN NOT keep_passage THEN ntok ELSE 0 END) AS BIGINT) AS n_removed_tokens,
        |  coalesce(string_agg(CASE WHEN keep_passage THEN passage END, ' ' ORDER BY cid), '') AS scrubbed_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // ExactSubstr family: maximal duplicated-span coverage over
    // POSITIONAL 8-grams (union semantics — the honesty note lives on
    // TextOps.repeatedSpans). Parallel unnests zip positionally in
    // DuckDB; islands via the lag/gap>8 running sum; incremental =
    // the same chain with the batch restriction on the position CTE
    // (duplication counts always span every document).
    "repeated_spans" -> repeatedSpansSql,
    "repeated_spans_incremental" ->
      repeatedSpansSqlFor("AND doc_id % 2 = 0"),
    // ≡ the one-shot by integer-sum associativity — same oracle
    "repeated_spans_reconciled" -> repeatedSpansSql,
    "repeated_spans_scrub" -> repeatedSpanScrubSql,
    "repeated_spans_summary" -> repeatedSpansSummarySql,

    "corpus_select_budget" -> selectBudgetSql,

    // DSIR importance weights / deterministic top-k selection — the
    // merged incremental model IS the full-corpus model, so the
    // continuation oracle is the one-shot restricted to batch docs
    "dsir_weights" ->
      s"""WITH $dsirCtes
        |SELECT doc_id, n_feats, weight_micro FROM dw ORDER BY doc_id""".stripMargin,
    "dsir_select" ->
      s"""WITH $dsirCtes
        |SELECT dw.doc_id, d.lang, d.source, dw.n_feats, dw.weight_micro
        |FROM dw JOIN documents d USING (doc_id)
        |ORDER BY weight_micro DESC, doc_id LIMIT 50""".stripMargin,
    // Gumbel-top-k: hash-derived open-interval uniform → Gumbel
    // quantile in micro-bits (the Scala-side constant 1/ln2·1e6
    // interpolated so both engines scale by the identical double)
    "dsir_select_gumbel" ->
      s"""WITH $dsirCtes
        |SELECT doc_id, lang, source, weight_micro, gumbel_micro,
        |  weight_micro + gumbel_micro AS score_micro
        |FROM (SELECT dw.doc_id, d.lang, d.source, dw.weight_micro,
        |  CAST(floor(${1.0 / math.log(2.0) * 1e6} *
        |    (-ln(-ln((('0x' || substr(md5('gumbel:' || CAST(dw.doc_id AS VARCHAR)), 1, 7))::BIGINT
        |      + 0.5) / 268435456.0))) + 0.5) AS BIGINT) AS gumbel_micro
        |  FROM dw JOIN documents d USING (doc_id))
        |ORDER BY score_micro DESC, doc_id LIMIT 50""".stripMargin,
    "dsir_weights_incremental" ->
      s"""WITH $dsirCtes
        |SELECT doc_id, n_feats, weight_micro FROM dw
        |WHERE doc_id % 2 <> 0 ORDER BY doc_id""".stripMargin,
    // ≡ the one-shot by the reconcile contract (stationary-merged
    // counts ARE the full-corpus counts; all features re-scored)
    "dsir_weights_reconciled" ->
      s"""WITH $dsirCtes
        |SELECT doc_id, n_feats, weight_micro FROM dw ORDER BY doc_id""".stripMargin,
    "corpus_select_budget_incremental" -> selectBudgetSql,

    // CCNet-style unigram cross-entropy: per-token log2(corpus freq)
    // quantized to integer micro-units BEFORE the per-doc sum (long
    // sums are order-independent; a double sum over an unordered
    // shuffle is not), final mean = one correctly-rounded division of
    // the same two exact integers in both engines.
    "doc_unigram_logloss" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
        |  FROM documents),
        |f AS (SELECT term, CAST(count(*) AS BIGINT) AS term_freq FROM t GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS total_tokens FROM t),
        |j AS (SELECT doc_id,
        |  CAST(floor(log2(CAST(term_freq AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS lf
        |FROM t JOIN f USING (term))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(lf) AS BIGINT) AS sum_logf_micro,
        |  CAST(floor(log2(CAST(total_tokens AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
        |    - CAST(floor(CAST(sum(lf) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS logloss_microbits
        |FROM j CROSS JOIN tot
        |GROUP BY doc_id, total_tokens ORDER BY doc_id""".stripMargin,

    // Bigram step of the LM-perplexity filter (r8): add-one-smoothed
    // P(w2|w1) = (c2+1)/(c1+V), per-bigram −log2 P = log2(c1+V) −
    // log2(c2+1) — every log arg an exact integer, each log quantized
    // SEPARATELY to micro-units before the per-doc Long sum (the
    // unigram discipline). Docs with <2 tokens have no bigrams and
    // are absent from both engines' output.
    "doc_bigram_logloss" -> bigramLoglossSql(""),

    // CCNet head/middle/tail by per-lang bigram-logloss thirds:
    // bucket-grain greedy thresholds over the count histogram
    // (cum·3 ≥ n integer logic — no ntile, no per-doc window), kept
    // drops the tail.
    "doc_perplexity_bucket" -> perplexityBucketSql,
    // the streamed lambda split settled: sunk pair streams re-scored
    // under the FINAL merged model, histogram rebuilt from the
    // settled scores, re-bucketed — ≡ the one-shot operator, so the
    // SAME oracle text grades the reconcile path (r10 VERDICT #2)
    "doc_perplexity_bucket_reconciled" -> perplexityBucketSql,
    // the model continuation scores batch docs under the merged
    // (= full-corpus) model, so the oracle is the one-shot restricted
    // to batch docs — stated literally
    "doc_bigram_logloss_incremental" ->
      bigramLoglossSql("WHERE doc_id % 2 <> 0"),

    // stupid-backoff trigram scoring, held-out split stated literally
    // (model = even half, probes = odd half)
    "doc_trigram_backoff" -> trigramBackoffSql,
    // ≡ the one-shot by the reconcile contract (merged halves ARE the
    // full model counts; all sunk probes re-scored)
    "trigram_backoff_reconciled" -> trigramBackoffSql,
    "trigram_backoff_summary" -> trigramBackoffSummarySql,

    "lang_id" ->
      """WITH s AS (SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS tk FROM documents),
        |sc AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(tk, x -> x IN ('der','die','und','das','ein'))) AS BIGINT) AS score_de,
        |  CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS score_en,
        |  CAST(len(list_filter(tk, x -> x IN ('el','la','de','que','y'))) AS BIGINT) AS score_es,
        |  CAST(len(list_filter(tk, x -> x IN ('le','la','de','et','un'))) AS BIGINT) AS score_fr
        |FROM s)
        |SELECT doc_id, score_de, score_en, score_es, score_fr,
        |  CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'unknown'
        |    WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
        |    WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
        |    WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
        |    ELSE 'fr' END AS predicted_lang,
        |  lang AS labeled_lang
        |FROM sc ORDER BY doc_id""".stripMargin,

    "doc_fingerprint" ->
      """SELECT doc_id, md5(lower(trim(text))) AS fp_md5,
        |  sha256(lower(trim(text))) AS fp_sha256,
        |  length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """WITH f AS (SELECT doc_id, md5(lower(trim(text))) AS fp_md5 FROM documents)
        |SELECT doc_id, fp_md5,
        |  min(doc_id) OVER (PARTITION BY fp_md5) AS canonical_id,
        |  doc_id <> min(doc_id) OVER (PARTITION BY fp_md5) AS is_dup
        |FROM f ORDER BY doc_id""".stripMargin,

    // Batch-vs-corpus admission: NOT-IN over the corpus fingerprints =
    // Spark's left-anti; QUALIFY keep-first = the min-doc_id window.
    "dedup_incremental" ->
      """WITH f AS (SELECT doc_id, md5(lower(trim(text))) AS fp_md5 FROM documents),
        |fresh AS (SELECT doc_id, fp_md5 FROM f WHERE doc_id % 3 = 0
        |  AND fp_md5 NOT IN (SELECT DISTINCT fp_md5 FROM f WHERE doc_id % 3 <> 0))
        |SELECT doc_id, fp_md5 FROM fresh
        |QUALIFY row_number() OVER (PARTITION BY fp_md5 ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    // Band signatures are per-row, so bands computed over the whole
    // table then split by doc_id ≡ bands computed per split — the CTE
    // reuses the shared minhash ladder.
    "dedup_incremental_minhash" ->
      s"""WITH $minhashCtes,
         |e AS (
         |  SELECT doc_id, 0 AS band_idx, band_0 AS band_key FROM bands
         |  UNION ALL SELECT doc_id, 1, band_1 FROM bands
         |  UNION ALL SELECT doc_id, 2, band_2 FROM bands
         |  UNION ALL SELECT doc_id, 3, band_3 FROM bands),
         |ci AS (SELECT DISTINCT band_idx, band_key FROM e WHERE doc_id % 3 <> 0),
         |coll AS (SELECT DISTINCT e.doc_id FROM e JOIN ci USING (band_idx, band_key)
         |  WHERE e.doc_id % 3 = 0)
         |SELECT doc_id FROM documents
         |WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT doc_id FROM coll)
         |ORDER BY doc_id""".stripMargin,

    // 'v<charlen>:<value>' per field is Validation.snapshotDiff's
    // injective self-delimiting encoding (null → 'n'; no nulls in this
    // slice). Length = characters in both engines.
    "snapshot_diff" ->
      """WITH o_s AS (SELECT o_orderkey,
        |  md5('v' || length(CAST(o_custkey AS VARCHAR)) || ':' || CAST(o_custkey AS VARCHAR)
        |   || 'v' || length(o_orderstatus) || ':' || o_orderstatus
        |   || 'v' || length(o_orderpriority) || ':' || o_orderpriority) AS old_sig
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |n_s AS (SELECT o_orderkey,
        |  md5('v' || length(CAST(o_custkey AS VARCHAR)) || ':' || CAST(o_custkey AS VARCHAR)
        |   || 'v' || length(CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END)
        |   || ':' || CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END
        |   || 'v' || length(o_orderpriority) || ':' || o_orderpriority) AS new_sig
        |  FROM orders WHERE o_orderkey % 13 <> 0)
        |SELECT o_orderkey,
        |  CASE WHEN old_sig IS NULL THEN 'I' WHEN new_sig IS NULL THEN 'D'
        |       WHEN old_sig <> new_sig THEN 'U' END AS change_op,
        |  old_sig, new_sig
        |FROM o_s FULL OUTER JOIN n_s USING (o_orderkey)
        |WHERE old_sig IS NULL OR new_sig IS NULL OR old_sig <> new_sig
        |ORDER BY o_orderkey""".stripMargin,

    // Complete admission: corpus-collision anti-join (same CTEs as
    // dedup_incremental_minhash), then the recursive min-label flood
    // CONFINED to the fresh batch docs — band buckets and the bucket
    // cap count fresh members only, mirroring Dedup.clusters run on
    // the surviving batch. The SAME text also oracles dedup_reconcile:
    // incremental state + retro closure must hash-equal the one-shot.
    "dedup_admit" -> admitOneShotSql,
    "dedup_reconcile" -> admitOneShotSql,

    "dedup_minhash" ->
      s"""WITH $minhashCtes
         |SELECT doc_id, band_0, band_1, band_2, band_3 FROM bands ORDER BY doc_id""".stripMargin,

    // Signature-agreement Jaccard estimate per LSH candidate pair —
    // the m CTE carries the 12 component columns the bands fold.
    "dedup_minhash_estimate" ->
      s"""WITH $minhashCtes,
         |$bandPairCtes
         |SELECT doc_a, doc_b,
         |  CAST(${(0 until 12).map(k =>
              s"(CASE WHEN a.mh_$k = b.mh_$k THEN 1 ELSE 0 END)").mkString(" + ")}
         |    AS BIGINT) AS n_equal,
         |  CAST(${(0 until 12).map(k =>
              s"(CASE WHEN a.mh_$k = b.mh_$k THEN 1 ELSE 0 END)").mkString(" + ")}
         |    AS DOUBLE) / 12.0 AS est_jaccard
         |FROM cand JOIN m a ON cand.doc_a = a.doc_id
         |JOIN m b ON cand.doc_b = b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_minhash_pairs" ->
      s"""WITH $minhashCtes,
         |$bandPairCtes
         |SELECT doc_a, doc_b FROM cand
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_jaccard" ->
      s"""WITH $minhashCtes,
         |$bandPairCtes,
         |gt AS (SELECT doc_id, string_split(nt, ' ') AS tk FROM t),
         |g AS (SELECT doc_id,
         |  list_distinct(list_transform(range(1, len(tk)-1),
         |    i -> ('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 15))::BIGINT)) AS gs
         |FROM gt),
         |p AS (SELECT doc_a, doc_b,
         |  CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS n_common,
         |  CAST(len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)) AS BIGINT) AS n_union
         |FROM cand JOIN g a ON doc_a = a.doc_id JOIN g b ON doc_b = b.doc_id)
         |SELECT doc_a, doc_b, n_common, n_union,
         |  CAST(n_common AS DOUBLE)/n_union AS jaccard
         |FROM p ORDER BY jaccard DESC, doc_a, doc_b LIMIT 100""".stripMargin,

    // LSH index quality vs exact ground truth (r8): candidates = the
    // FULL corpus's band pairs restricted to the probe subset (the
    // deployed index, sampled); truth = integer cross-multiply
    // common·1e6 ≥ τmicro·union over all subset pairs; NULLIF mirrors
    // Spark's try_divide on a degenerate subset.
    "dedup_lsh_recall" ->
      s"""WITH $minhashCtes,
         |$bandPairCtes,
         |scd AS (SELECT doc_a, doc_b FROM cand WHERE doc_a < 250 AND doc_b < 250),
         |gt AS (SELECT doc_id, string_split(nt, ' ') AS tk FROM t WHERE doc_id < 250),
         |g AS (SELECT doc_id,
         |  list_distinct(list_transform(range(1, len(tk)-1),
         |    i -> ('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 15))::BIGINT)) AS gs
         |FROM gt),
         |tp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id
         |  WHERE len(a.gs)+len(b.gs)-len(list_intersect(a.gs,b.gs)) > 0
         |    AND CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) * 1000000 >=
         |      500000 * CAST(len(a.gs)+len(b.gs)-len(list_intersect(a.gs,b.gs)) AS BIGINT)),
         |h AS (SELECT CAST(count(*) AS BIGINT) AS n_true,
         |  CAST(sum(CASE WHEN scd.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |FROM tp LEFT JOIN scd ON tp.doc_a = scd.doc_a AND tp.doc_b = scd.doc_b),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM scd)
         |SELECT n_true, n_candidates, n_hit,
         |  CAST(n_hit AS DOUBLE) / NULLIF(n_true, 0) AS recall,
         |  CAST(n_hit AS DOUBLE) / NULLIF(n_candidates, 0) AS precision_at_tau
         |FROM h CROSS JOIN nc""".stripMargin,

    // Same candidate/gram chain as dedup_jaccard; asymmetric scores +
    // the overlap coefficient the ranking uses.
    "dedup_containment" ->
      s"""WITH $minhashCtes,
         |$bandPairCtes,
         |gt AS (SELECT doc_id, string_split(nt, ' ') AS tk FROM t),
         |g AS (SELECT doc_id,
         |  list_distinct(list_transform(range(1, len(tk)-1),
         |    i -> ('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 15))::BIGINT)) AS gs
         |FROM gt),
         |p AS (SELECT doc_a, doc_b,
         |  CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS n_common,
         |  CAST(len(a.gs) AS BIGINT) AS n_a, CAST(len(b.gs) AS BIGINT) AS n_b
         |FROM cand JOIN g a ON doc_a = a.doc_id JOIN g b ON doc_b = b.doc_id)
         |SELECT doc_a, doc_b, n_common, n_a, n_b,
         |  CAST(n_common AS DOUBLE)/n_a AS containment_a,
         |  CAST(n_common AS DOUBLE)/n_b AS containment_b,
         |  CAST(n_common AS DOUBLE)/least(n_a, n_b) AS overlap
         |FROM p ORDER BY overlap DESC, doc_a, doc_b LIMIT 100""".stripMargin,

    "dedup_simhash" ->
      """WITH t AS (SELECT doc_id,
        |  list_transform(string_split(lower(trim(text)), ' '), tok -> md5(tok)) AS tms
        |FROM documents)
        |SELECT doc_id, array_to_string(list_transform(range(1, 33), j ->
        |  CASE WHEN list_sum(list_transform(tms, m ->
        |    CASE WHEN substr(m, j, 1) >= '8' THEN 1 ELSE -1 END)) > 0
        |  THEN '1' ELSE '0' END), '') AS simhash
        |FROM t ORDER BY doc_id""".stripMargin,

    "knn_cosine_bruteforce" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v,
        |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm FROM e),
        |s AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |  list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i]*c.v[i])) / (q.nrm * c.nrm) AS cos_sim
        |FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
        |r AS (SELECT qid, nid, cos_sim,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM s)
        |SELECT qid, rank, nid, cos_sim FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // SQ8 asymmetric search: the corpus side is embedding_quantize's
    // exact representation (same CTE steps), reconstructed with the
    // same association as its MAE fold; probe stays full-precision.
    "knn_sq_int8" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |m AS (SELECT vec_id, v, list_min(v) AS vmin, list_max(v) AS vmax FROM e),
        |q AS (SELECT vec_id, v, vmin, vmax,
        |  list_transform(v, x -> CASE WHEN vmax = vmin THEN 0
        |    ELSE CAST(floor((x - vmin) / (vmax - vmin) * 255 + 0.5) AS BIGINT) END) AS qv
        |FROM m),
        |r AS (SELECT vec_id, v,
        |  list_transform(qv, c -> vmin + CAST(c AS DOUBLE) * (vmax - vmin) / 255) AS recon
        |FROM q),
        |s AS (SELECT p.vec_id AS qid, c.vec_id AS nid,
        |  list_sum(list_transform(range(1, len(p.v)+1), i -> p.v[i] * c.recon[i]))
        |    / (sqrt(list_sum(list_transform(range(1, len(p.v)+1), i -> p.v[i]*p.v[i])))
        |       * sqrt(list_sum(list_transform(range(1, len(c.recon)+1), i -> c.recon[i]*c.recon[i]))))
        |    AS cos_sim_adc
        |FROM r p JOIN r c ON p.vec_id < 20 AND p.vec_id <> c.vec_id),
        |t AS (SELECT qid, nid, cos_sim_adc,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim_adc DESC, nid) AS rank FROM s)
        |SELECT qid, rank, nid, cos_sim_adc FROM t WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "embedding_centroids" ->
      """WITH u AS (SELECT label,
        |  unnest(list_transform(range(1, len(embedding)+1),
        |    i -> {'i': i, 'v': CAST(embedding[i] AS DOUBLE)})) AS e
        |FROM embeddings)
        |SELECT label, CAST(e.i - 1 AS BIGINT) AS dim_idx,
        |  count(*) AS n_vectors,
        |  CAST(SUM(CAST(round(e.v * 1e9) AS BIGINT)) AS DOUBLE)/1e9/count(*) AS mean_val
        |FROM u GROUP BY 1, 2 ORDER BY label, dim_idx""".stripMargin,

    // Unit-vector digest over 1e-9-quantized INTEGER components (raw
    // double→string formatting differs across engines; integer-valued
    // doubles don't); the norm and unit-norm folds pair list_sum with
    // Spark's aggregate (the embedding_stats-proven combination).
    "embedding_normalize" ->
      """WITH e AS (SELECT vec_id, label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS norm FROM e),
        |u AS (SELECT vec_id, label, norm,
        |  CASE WHEN norm = 0 THEN v ELSE list_transform(v, x -> x / norm) END AS uv FROM n)
        |SELECT vec_id, label, norm,
        |  md5(array_to_string(list_transform(uv,
        |    x -> CAST(CAST(floor(x * 1e9 + 0.5) AS BIGINT) AS VARCHAR)), ',')) AS unit_md5,
        |  list_sum(list_transform(range(1, len(uv)+1), i -> uv[i]*uv[i])) AS unit_sq_sum
        |FROM u ORDER BY vec_id""".stripMargin,

    "embedding_covariance" ->
      s"""$pcaCovCteSql
        |SELECT di AS dim_i, dj AS dim_j, n AS n_vectors,
        |  mean_i, mean_j, cov
        |FROM cvt ORDER BY dim_i, dim_j""".stripMargin,

    // the incremental path merges exactly-associative Long term state,
    // so its oracle IS the one-shot covariance over the whole corpus
    "embedding_covariance_incremental" ->
      s"""$pcaCovCteSql
        |SELECT di AS dim_i, dj AS dim_j, n AS n_vectors,
        |  mean_i, mean_j, cov
        |FROM cvt ORDER BY dim_i, dim_j""".stripMargin,

    "embedding_pca" ->
      s"""${pcaCteSql(3)},
        |cvf AS (SELECT cr.i, list_sum(list_transform(range(1, len(cr.r)+1),
        |    j -> cr.r[j] * v3.v[j])) AS w FROM cr, v3),
        |cvl AS (SELECT list(w ORDER BY i) AS w FROM cvf),
        |lam AS (SELECT list_sum(list_transform(range(1, len(v.v)+1),
        |    i -> v.v[i] * c.w[i])) AS l FROM v3 v, cvl c)
        |SELECT CAST(u.c.i AS BIGINT) AS dim_idx, u.c.x AS pc_val,
        |  u.l AS eigenvalue
        |FROM (SELECT unnest(list_transform(range(1, len(v.v)+1),
        |    i -> {'i': i - 1, 'x': v.v[i]})) AS c, l.l AS l
        |  FROM v3 v, lam l) u
        |ORDER BY dim_idx""".stripMargin,

    // chain 1 = the embedding_pca chain (generator-emitted); the
    // deflated matrix bfc = C − λ·v·vᵀ with the SAME association as
    // the driver's Array.tabulate, then an identically-generated
    // second power-iteration chain under the "b" prefix
    "embedding_pca_top2" ->
      s"""${pcaCteSql(3)},
        |${rayleighSql("", 3)},
        |bfc AS MATERIALIZED (SELECT f.i, f.j,
        |    f.cov - l.l * v.v[f.i + 1] * v.v[f.j + 1] AS cov
        |  FROM fc f, v3 v, lam l),
        |bcr AS MATERIALIZED (SELECT i, list(cov ORDER BY j) AS r FROM bfc GROUP BY i),
        |bv0 AS MATERIALIZED (SELECT list_transform(range(1, (SELECT count(*) FROM bcr) + 1),
        |  x -> 1.0) AS v),
        |${powerIterSql("b", 3)},
        |${rayleighSql("b", 3)}
        |SELECT CAST(1 AS BIGINT) AS component, CAST(u.c.i AS BIGINT) AS dim_idx,
        |  u.c.x AS pc_val, u.l AS eigenvalue
        |FROM (SELECT unnest(list_transform(range(1, len(v.v)+1),
        |    i -> {'i': i - 1, 'x': v.v[i]})) AS c, l.l AS l
        |  FROM v3 v, lam l) u
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(u.c.i AS BIGINT), u.c.x, u.l
        |FROM (SELECT unnest(list_transform(range(1, len(v.v)+1),
        |    i -> {'i': i - 1, 'x': v.v[i]})) AS c, l.l AS l
        |  FROM bv3 v, blam l) u
        |ORDER BY component, dim_idx""".stripMargin,

    "embedding_pca_project" ->
      s"""${pcaCteSql(3)},
        |ml AS (SELECT list(mean_v ORDER BY i) AS m FROM mm)
        |SELECT e.vec_id, e.label,
        |  coalesce(list_sum(list_transform(range(1, least(len(e.v), len(ml.m))+1),
        |    i -> (e.v[i] - ml.m[i]) * v3.v[i])), 0.0) AS pc1_score
        |FROM e, ml, v3 ORDER BY vec_id""".stripMargin,

    // the ±0.25 JL matrix regenerated from the identical md5 strings
    // (r 0-based, i 1-based — the Similarity.rpCoefs convention)
    "embedding_rp16" ->
      """WITH e AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |proj AS (SELECT vec_id, label,
        |  list_transform(range(0, 16), r ->
        |    coalesce(list_sum(list_transform(range(1, least(len(v), 64) + 1),
        |      i -> v[i] * (CASE WHEN ('0x' || substr(md5('rp' ||
        |          CAST(r AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 15))::BIGINT
        |          % 2 = 0 THEN 0.25 ELSE -0.25 END))), 0.0)) AS y
        |  FROM e)
        |SELECT vec_id, label,
        |  md5(array_to_string(list_transform(y,
        |    x -> CAST(CAST(floor(x * 1e9 + 0.5) AS BIGINT) AS VARCHAR)), ',')) AS rp_md5,
        |  list_sum(list_transform(y, x -> x * x)) AS rp_sq_sum
        |FROM proj ORDER BY vec_id""".stripMargin,

    "embedding_stats" ->
      """WITH e AS (SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT label,
        |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm FROM e)
        |SELECT label, count(*) AS n_vectors,
        |  CAST(SUM(CAST(nrm AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS avg_norm,
        |  min(nrm) AS min_norm, max(nrm) AS max_norm
        |FROM n GROUP BY label ORDER BY label""".stripMargin,

    // floor(x + 0.5) rounding and identical operator association keep
    // every double bit-identical to Similarity.quantize.
    "embedding_quantize" ->
      """WITH e AS (SELECT vec_id, label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |m AS (SELECT vec_id, label, v,
        |  list_min(v) AS vmin, list_max(v) AS vmax FROM e),
        |q AS (SELECT vec_id, label, v, vmin, vmax,
        |  list_transform(v, x -> CASE WHEN vmax = vmin THEN 0
        |    ELSE CAST(floor((x - vmin) / (vmax - vmin) * 255 + 0.5) AS BIGINT) END) AS qv
        |FROM m)
        |SELECT vec_id, label, vmin AS v_min, vmax AS v_max,
        |  md5(array_to_string(qv, ',')) AS q_md5,
        |  list_sum(list_transform(range(1, len(v)+1),
        |    i -> abs(v[i] - (vmin + CAST(qv[i] AS DOUBLE) * (vmax - vmin) / 255))))
        |    / len(v) AS mae
        |FROM q ORDER BY vec_id""".stripMargin,

    "customer_order_gaps" ->
      """WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_date, o_orderkey FROM orders),
        |r AS (SELECT o_custkey, order_date, o_orderkey,
        |  row_number() OVER w AS order_n,
        |  lag(order_date) OVER w AS prev_date
        |FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY order_date, o_orderkey))
        |SELECT o_custkey, order_n, o_orderkey, order_date,
        |  date_diff('day', prev_date, order_date) AS gap_days
        |FROM r ORDER BY o_custkey, order_n""".stripMargin,

    "token_counts" ->
      s"""WITH t AS (SELECT doc_id, text, lower(trim(text)) AS nt FROM documents)
         |SELECT doc_id, length(text) AS n_chars,
         |  len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
         |  len(regexp_extract_all(nt, '${TextOps.BpeIshPattern}')) AS bpe_tokens,
         |  CAST(length(text) AS DOUBLE) /
         |    len(regexp_extract_all(nt, '${TextOps.BpeIshPattern}')) AS chars_per_bpe_token
         |FROM t ORDER BY doc_id""".stripMargin,

    "doc_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk FROM documents),
        |s AS (SELECT doc_id, tk, len(tk) AS n,
        |  1 + (greatest(len(tk) - 40, 0) + 29)//30 AS n_chunks FROM t),
        |e AS (SELECT doc_id, tk, n, n_chunks,
        |  unnest(range(0, n_chunks)) AS chunk_idx FROM s),
        |c AS (SELECT doc_id, n_chunks, chunk_idx,
        |  list_slice(tk, chunk_idx*30 + 1, least(chunk_idx*30 + 40, n)) AS ck FROM e)
        |SELECT doc_id, n_chunks, chunk_idx,
        |  CAST(len(ck) AS BIGINT) AS n_chunk_tokens,
        |  md5(array_to_string(ck, ' ')) AS chunk_md5,
        |  ck[1] AS first_token
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "decontaminate" -> decontaminateSql,
    "contamination_matrix" ->
      s"""WITH pairs AS ($decontaminateSql)
        |SELECT ts.source AS train_source, es.source AS eval_source,
        |  count(*) AS n_pairs,
        |  count(DISTINCT p.train_doc) AS n_train_docs,
        |  count(DISTINCT p.eval_doc) AS n_eval_docs,
        |  CAST(SUM(p.n_shared_grams) AS BIGINT) AS total_shared_grams,
        |  MAX(p.n_shared_grams) AS max_shared_grams
        |FROM pairs p
        |JOIN documents ts ON ts.doc_id = p.train_doc
        |JOIN documents es ON es.doc_id = p.eval_doc
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the Bloom prefilter has no false negatives and the exact pair
    // join removes its false positives, so the bloom variant's result
    // set IS decontaminate's — one oracle, two physical strategies
    "decontaminate_bloom" -> decontaminateSql,
    // incremental admission ≡ the one-shot restricted to batch train
    // docs (df cap + eval side still span everything)
    "decontaminate_incremental" ->
      decontaminateSqlFor("a.doc_id % 2 = 0 AND"),

    // first-introducer attribution on the decontaminate gram hash
    // (min doc_id per gram); novelty = share of the doc's distinct
    // grams it introduced
    "doc_ngram_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk FROM documents),
        |g AS (SELECT doc_id,
        |  unnest(list_distinct(list_transform(range(1, greatest(len(tk)-6, 1)),
        |    i -> ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 1, 15))::BIGINT))) AS g8
        |FROM t),
        |f AS (SELECT g8, min(doc_id) AS first_doc FROM g GROUP BY g8),
        |a AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        |FROM g JOIN f USING (g8) GROUP BY 1)
        |SELECT doc_id, n_grams, n_novel,
        |  CAST(n_novel AS DOUBLE) / n_grams AS novelty_ratio
        |FROM a ORDER BY doc_id""".stripMargin,

    // incremental ≡ the one-shot restricted to the arriving (odd-id)
    // half — attribution still spans the UNION (the decontaminate_
    // incremental restriction pattern)
    "doc_ngram_novelty_incremental" ->
      """WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk FROM documents),
        |g AS (SELECT doc_id,
        |  unnest(list_distinct(list_transform(range(1, greatest(len(tk)-6, 1)),
        |    i -> ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 1, 15))::BIGINT))) AS g8
        |FROM t),
        |f AS (SELECT g8, min(doc_id) AS first_doc FROM g GROUP BY g8),
        |a AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        |FROM g JOIN f USING (g8) WHERE g.doc_id % 2 = 1 GROUP BY 1)
        |SELECT doc_id, n_grams, n_novel,
        |  CAST(n_novel AS DOUBLE) / n_grams AS novelty_ratio
        |FROM a ORDER BY doc_id""".stripMargin,

    "doc_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk FROM documents),
        |h AS (SELECT doc_id,
        |  list_transform(tk, tok -> ('0x' || substr(md5(tok), 1, 7))::BIGINT) AS tm
        |FROM t),
        |g AS (SELECT doc_id,
        |  list_transform(range(1, greatest(len(tm), 1)),
        |    i -> tm[i]*268435456 + tm[i+1]) AS g2,
        |  list_transform(range(1, greatest(len(tm)-1, 1)),
        |    i -> ((tm[i]*268435456 + tm[i+1]) % 2147483647) * 268435456 + tm[i+2]) AS g3
        |FROM h)
        |SELECT doc_id,
        |  CAST(len(g2) AS BIGINT) AS n_bigrams,
        |  CAST(len(list_distinct(g2)) AS BIGINT) AS n_distinct_bigrams,
        |  1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)/len(g2) AS dup_bigram_ratio,
        |  CAST(len(g3) AS BIGINT) AS n_trigrams,
        |  CAST(len(list_distinct(g3)) AS BIGINT) AS n_distinct_trigrams,
        |  1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)/len(g3) AS dup_trigram_ratio,
        |  1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)/len(g3) > 0.2 AS is_repetitive
        |FROM g ORDER BY doc_id""".stripMargin,

    "corpus_vocabulary" ->
      """WITH t AS (SELECT doc_id,
        |  unnest(string_split(lower(trim(text)), ' ')) AS token FROM documents)
        |SELECT token, count(*) AS corpus_freq,
        |  count(DISTINCT doc_id) AS doc_freq
        |FROM t GROUP BY 1
        |ORDER BY corpus_freq DESC, token LIMIT 100""".stripMargin,

    // Rational mean: integer df sums divided once at the end, in the
    // same (sum / n_tokens) / n_docs association as the Spark side.
    "doc_commonness" ->
      """WITH t AS (SELECT doc_id,
        |  unnest(string_split(lower(trim(text)), ' ')) AS term FROM documents),
        |df AS (SELECT term, count(DISTINCT doc_id) AS term_df FROM t GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
        |SELECT doc_id, count(*) AS n_tokens,
        |  min(term_df) AS df_min, max(term_df) AS df_max,
        |  CAST(sum(term_df) AS BIGINT) AS df_sum,
        |  CAST(sum(term_df) AS DOUBLE) / count(*) / any_value(n_docs) AS mean_df_share
        |FROM t JOIN df USING (term), n
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "corpus_funnel" ->
      """WITH s AS (SELECT doc_id, text, lower(trim(text)) AS nt, length(text) AS nc,
        |  string_split(lower(trim(text)), ' ') AS tk,
        |  CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)/length(text) AS pr
        |FROM documents),
        |v AS (SELECT doc_id, nt, tk,
        |  (CASE WHEN nc BETWEEN 100 AND 2000 THEN 1 ELSE 0 END
        | + CASE WHEN len(tk) >= 20 THEN 1 ELSE 0 END
        | + CASE WHEN CAST(len(list_filter(tk, x -> x IN ('the','a','and','of','to'))) AS DOUBLE)/len(tk)
        |     BETWEEN 0.02 AND 0.6 THEN 1 ELSE 0 END
        | + CASE WHEN pr < 0.1 THEN 1 ELSE 0 END) >= 3 AS keep FROM s),
        |d AS (SELECT doc_id, keep, tk,
        |  doc_id <> min(doc_id) OVER (PARTITION BY md5(nt)) AS is_dup FROM v),
        |h AS (SELECT keep, is_dup,
        |  list_transform(tk, tok -> ('0x' || substr(md5(tok), 1, 7))::BIGINT) AS tm FROM d),
        |g AS (SELECT keep, is_dup,
        |  list_transform(range(1, greatest(len(tm)-1, 1)),
        |    i -> ((tm[i]*268435456 + tm[i+1]) % 2147483647) * 268435456 + tm[i+2]) AS g3 FROM h),
        |r AS (SELECT keep, is_dup,
        |  1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)/len(g3) > 0.2 AS is_rep FROM g),
        |a AS (SELECT count(*) AS n_total,
        |  count(*) FILTER (keep) AS n_quality,
        |  count(*) FILTER (keep AND NOT is_dup) AS n_qd,
        |  count(*) FILTER (keep AND NOT is_dup AND NOT is_rep) AS n_clean FROM r)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage_n, 'total' AS stage, n_total AS n_docs FROM a
        |  UNION ALL SELECT 2, 'quality', n_quality FROM a
        |  UNION ALL SELECT 3, 'quality+dedup', n_qd FROM a
        |  UNION ALL SELECT 4, 'quality+dedup+repetition', n_clean FROM a)
        |ORDER BY stage_n""".stripMargin,

    "doc_split" ->
      """SELECT doc_id, lang,
        |  ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 10 AS bucket,
        |  CASE WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 10 < 8 THEN 'train'
        |    WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 10 = 8 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "doc_split_summary" ->
      """WITH a AS (SELECT doc_id, lang,
        |  ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 10 AS bucket
        |FROM documents)
        |SELECT lang,
        |  CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs
        |FROM a GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,

    "doc_rolling_fp" ->
      """WITH t AS (SELECT doc_id, lower(trim(text)) AS nt FROM documents)
        |SELECT doc_id, length(nt) AS n_chars,
        |  list_reduce(list_transform(range(1, length(nt)+1),
        |    i -> CAST(ascii(substr(nt, i, 1)) AS BIGINT)),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS rolling_fp
        |FROM t ORDER BY doc_id""".stripMargin,

    "dedup_embedding" ->
      s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |sg AS (SELECT vec_id, label, v, $lshSigSql AS sig FROM e),
         |n AS (SELECT vec_id, label, v, sig,
         |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm FROM sg),
         |p AS (SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
         |  list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i])) / (a.nrm * b.nrm) AS cos_sim
         |FROM n a JOIN n b ON a.sig = b.sig AND a.vec_id < b.vec_id)
         |SELECT label, id_a, id_b, cos_sim
         |FROM p ORDER BY cos_sim DESC, id_a, id_b LIMIT 50""".stripMargin,

    // Embedding decontamination audit: doc_split's bucket rule on
    // vec_id, LSH-sig blocking, ranked cross-split cosines (ordered
    // folds; the LIMIT boundary is deterministic because the doubles
    // are bit-identical in both engines)
    "decontaminate_embedding" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |sg AS (SELECT vec_id, v, $lshSigSql AS sig,
         |  ('0x' || substr(md5('split:' || CAST(vec_id AS VARCHAR)), 1, 4))::BIGINT % 10 AS bucket
         |FROM e),
         |n AS (SELECT vec_id, v, sig, bucket,
         |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm FROM sg),
         |p AS (SELECT t.vec_id AS train_vec, h.vec_id AS eval_vec,
         |  list_sum(list_transform(range(1, len(t.v)+1), i -> t.v[i]*h.v[i])) / (t.nrm * h.nrm) AS cos_sim
         |FROM n t JOIN n h ON t.sig = h.sig AND t.bucket < 8 AND h.bucket >= 8)
         |SELECT train_vec, eval_vec, cos_sim FROM p
         |ORDER BY cos_sim DESC, train_vec, eval_vec LIMIT 20""".stripMargin,

    "knn_lsh" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |sg AS (SELECT vec_id, v, $lshSigSql AS sig FROM e),
         |n AS (SELECT vec_id, v, sig,
         |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm FROM sg),
         |s AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
         |  list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i]*c.v[i])) / (q.nrm * c.nrm) AS cos_sim
         |FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id AND q.sig = c.sig),
         |r AS (SELECT qid, nid, cos_sim,
         |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM s)
         |SELECT qid, rank, nid, cos_sim FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // IVF oracles: both codebooks are pure functions of the embeddings
    // table (seed vectors vec_id<16 / per-label means), so assignment +
    // probe-list ranking replicate exactly in SQL — no literals needed.
    // Shared shape: rank centroids per vector (cos desc, cid asc);
    // corpus keeps rank 1 as its list, probes (vec_id<20) search their
    // top-2 lists; exact cosine within lists, max over the (≤2) list
    // hits, top-5 per probe.
    "knn_ivf" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v,
        |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm FROM e),
        |cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16),
        |a AS (SELECT x.vec_id, x.v, x.nrm, c.cid,
        |  list_sum(list_transform(range(1, len(x.v)+1), i -> x.v[i]*c.cv[i])) / (x.nrm * c.cnrm) AS ccos
        |FROM n x CROSS JOIN cent c),
        |rk AS (SELECT vec_id, v, nrm, cid,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank FROM a),
        |corpus AS (SELECT vec_id AS nid, v AS nv, nrm AS nnrm, cid AS list_id
        |  FROM rk WHERE crank = 1),
        |probes AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cid AS list_id
        |  FROM rk WHERE vec_id < 20 AND crank <= 2),
        |s AS (SELECT p.qid, c.nid,
        |  list_sum(list_transform(range(1, len(p.qv)+1), i -> p.qv[i]*c.nv[i])) / (p.qnrm * c.nnrm) AS cos_sim
        |FROM corpus c JOIN probes p ON p.list_id = c.list_id AND p.qid <> c.nid),
        |g AS (SELECT qid, nid, max(cos_sim) AS cos_sim FROM s GROUP BY 1, 2),
        |r AS (SELECT qid, nid, cos_sim,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM g)
        |SELECT qid, rank, nid, cos_sim FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // Trained variant: centroids are the labelCentroids means (same
    // nano-unit integer-sum recipe as embedding_centroids), rounded
    // through REAL because the Scala side ships the codebook as floats.
    "knn_ivf_trained" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v,
        |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm FROM e),
        |u AS (SELECT label,
        |  unnest(list_transform(range(1, len(embedding)+1),
        |    i -> {'i': i, 'v': CAST(embedding[i] AS DOUBLE)})) AS x
        |FROM embeddings),
        |m AS (SELECT CAST(label AS BIGINT) AS cid, x.i AS dim_i,
        |  CAST(CAST(SUM(CAST(round(x.v * 1e9) AS BIGINT)) AS DOUBLE)/1e9/count(*) AS REAL) AS mv
        |FROM u GROUP BY 1, 2),
        |cl AS (SELECT cid,
        |  list_transform(list(mv ORDER BY dim_i), f -> CAST(f AS DOUBLE)) AS cv
        |FROM m GROUP BY cid),
        |cent AS (SELECT cid, cv,
        |  sqrt(list_sum(list_transform(range(1, len(cv)+1), i -> cv[i]*cv[i]))) AS cnrm FROM cl),
        |a AS (SELECT x.vec_id, x.v, x.nrm, c.cid,
        |  list_sum(list_transform(range(1, len(x.v)+1), i -> x.v[i]*c.cv[i])) / (x.nrm * c.cnrm) AS ccos
        |FROM n x CROSS JOIN cent c),
        |rk AS (SELECT vec_id, v, nrm, cid,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank FROM a),
        |corpus AS (SELECT vec_id AS nid, v AS nv, nrm AS nnrm, cid AS list_id
        |  FROM rk WHERE crank = 1),
        |probes AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cid AS list_id
        |  FROM rk WHERE vec_id < 20 AND crank <= 2),
        |s AS (SELECT p.qid, c.nid,
        |  list_sum(list_transform(range(1, len(p.qv)+1), i -> p.qv[i]*c.nv[i])) / (p.qnrm * c.nnrm) AS cos_sim
        |FROM corpus c JOIN probes p ON p.list_id = c.list_id AND p.qid <> c.nid),
        |g AS (SELECT qid, nid, max(cos_sim) AS cos_sim FROM s GROUP BY 1, 2),
        |r AS (SELECT qid, nid, cos_sim,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM g)
        |SELECT qid, rank, nid, cos_sim FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // IVF search over the LLOYD-TRAINED coarse codebook (r15, VERDICT
    // r14 #5 — the last §2 row without a registry entry): the shared
    // unrolled-Lloyd chain re-derives the codebook bit-identically
    // (the kmeans_centroids recipe), centroids round through REAL
    // because the Scala side ships the codebook as floats
    // (knnIvfKmeans's .toFloat), then the knn_ivf search chain
    // verbatim: nearest-cell corpus lists, 2-list probes, exact
    // cosine within candidates, rank ties on neighbor id.
    "knn_ivf_kmeans" ->
      s"""$kmeansCteSql,
        |cf AS (SELECT cid, list_transform(cv,
        |  f -> CAST(CAST(f AS REAL) AS DOUBLE)) AS cv FROM c3),
        |cent AS (SELECT cid, cv,
        |  sqrt(list_sum(list_transform(range(1, len(cv)+1), i -> cv[i]*cv[i]))) AS cnrm FROM cf),
        |n AS (SELECT vec_id, v,
        |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm FROM e),
        |a AS (SELECT x.vec_id, x.v, x.nrm, c.cid,
        |  list_sum(list_transform(range(1, len(x.v)+1), i -> x.v[i]*c.cv[i])) / (x.nrm * c.cnrm) AS ccos
        |FROM n x CROSS JOIN cent c),
        |rk AS (SELECT vec_id, v, nrm, cid,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank FROM a),
        |corpus AS (SELECT vec_id AS nid, v AS nv, nrm AS nnrm, cid AS list_id
        |  FROM rk WHERE crank = 1),
        |probes AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cid AS list_id
        |  FROM rk WHERE vec_id < 20 AND crank <= 2),
        |s AS (SELECT p.qid, c.nid,
        |  list_sum(list_transform(range(1, len(p.qv)+1), i -> p.qv[i]*c.nv[i])) / (p.qnrm * c.nnrm) AS cos_sim
        |FROM corpus c JOIN probes p ON p.list_id = c.list_id AND p.qid <> c.nid),
        |g AS (SELECT qid, nid, max(cos_sim) AS cos_sim FROM s GROUP BY 1, 2),
        |r AS (SELECT qid, nid, cos_sim,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM g)
        |SELECT qid, rank, nid, cos_sim FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // Lloyd's k-means, unrolled: each iteration block is assignment
    // (ordered-fold distances, argmin ties on cid) + exact nano-unit
    // integer means + COALESCE carry for emptied clusters — mirrors
    // Similarity.kmeansCodebook step for step, so the final codebook
    // is bit-identical across engines.
    "kmeans_centroids" ->
      s"""$kmeansCteSql
        |SELECT c.cid AS cluster_id, u.i - 1 AS dim_idx, u.x AS centroid_val
        |FROM (SELECT cid, unnest(list_transform(range(1, len(cv)+1),
        |    i -> {'i': CAST(i AS BIGINT), 'x': cv[i]})) AS u
        |  FROM c3) c
        |ORDER BY cluster_id, dim_idx""".stripMargin,

    "kmeans_assign" ->
      s"""$kmeansCteSql,
        |a4 AS (SELECT vec_id, cid, d FROM (
        |  SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(range(1, len(e.v)+1),
        |      i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))) AS d,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      list_sum(list_transform(range(1, len(e.v)+1),
        |        i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))) ASC, c.cid ASC) AS rn
        |  FROM e CROSS JOIN c3 c) WHERE rn = 1)
        |SELECT vec_id, cid AS cluster_id, d AS sq_dist
        |FROM a4 ORDER BY vec_id""".stripMargin,

    // kmeans codebook CTE + final assignment + in-cell pair cosines —
    // blocking on the trained IVF cell, all folds ordered so the pair
    // list and its limit-50 boundary agree bit-exactly
    "dedup_embedding_ivf" ->
      s"""$kmeansCteSql,
        |a4 AS (SELECT vec_id, cid FROM (
        |  SELECT e.vec_id, c.cid,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      list_sum(list_transform(range(1, len(e.v)+1),
        |        i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))) ASC, c.cid ASC) AS rn
        |  FROM e CROSS JOIN c3 c) WHERE rn = 1),
        |n AS (SELECT vec_id, v,
        |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm FROM e),
        |p AS (SELECT x.cid AS cluster_id, x.vec_id AS id_a, y.vec_id AS id_b,
        |  list_sum(list_transform(range(1, len(na.v)+1),
        |    i -> na.v[i]*nb.v[i])) / (na.nrm * nb.nrm) AS cos_sim
        |FROM a4 x JOIN a4 y ON x.cid = y.cid AND x.vec_id < y.vec_id
        |JOIN n na ON na.vec_id = x.vec_id JOIN n nb ON nb.vec_id = y.vec_id)
        |SELECT cluster_id, id_a, id_b, cos_sim FROM p
        |ORDER BY cos_sim DESC, id_a, id_b LIMIT 50""".stripMargin,

    // SemDeDup: the same unrolled-Lloyd cells, τ=0.4 in-cell cosine
    // edges, recursive component closure (the dedup_clusters reach
    // convention), survivor = min (cos_centroid, vec_id) per component
    "semdedup_prune" ->
      s"""$semdedupCtes
        |SELECT s.vec_id, emb.label, cc.cid AS cell_id, s.component_id,
        |  CAST(s.component_size AS BIGINT) AS component_size,
        |  cc.cos_centroid, s.vec_id = sv.keep_id AS is_kept
        |FROM sz s JOIN cc USING (vec_id) JOIN sv USING (component_id)
        |JOIN embeddings emb USING (vec_id)
        |ORDER BY s.vec_id""".stripMargin,

    "semdedup_summary" ->
      s"""$semdedupCtes
        |SELECT cc.cid AS cell_id, CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(count(CASE WHEN s.vec_id = sv.keep_id THEN 1 END) AS BIGINT) AS n_kept,
        |  CAST(count(CASE WHEN s.vec_id <> sv.keep_id THEN 1 END) AS BIGINT) AS n_dropped,
        |  CAST(count(CASE WHEN s.vec_id <> sv.keep_id THEN 1 END) AS DOUBLE)
        |    / count(*) AS drop_share
        |FROM sz s JOIN cc USING (vec_id) JOIN sv USING (component_id)
        |GROUP BY 1 ORDER BY cell_id""".stripMargin,

    // SemDeDup admission: standing half's kept exemplars under the
    // shared corpus codebook form the index; a batch (odd) vector is
    // rejected at cos ≥ τ to any kept exemplar in its cell; the
    // survivors run a batch-internal semdedup chain (same pair/reach/
    // survivor recipe confined to the fresh set)
    "semdedup_admit" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |${kmeansBlocksSql("", 8, 3)},
        |asg AS (SELECT vec_id, cid FROM (
        |  SELECT e.vec_id, c.cid,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      list_sum(list_transform(range(1, len(e.v)+1),
        |        i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))) ASC, c.cid ASC) AS rn
        |  FROM e CROSS JOIN c3 c) WHERE rn = 1),
        |cc AS (SELECT a.vec_id, a.cid,
        |  list_sum(list_transform(range(1, len(e.v)+1), i -> e.v[i]*c.cv[i]))
        |    / (sqrt(list_sum(list_transform(range(1, len(e.v)+1), i -> e.v[i]*e.v[i])))
        |       * sqrt(list_sum(list_transform(range(1, len(c.cv)+1), i -> c.cv[i]*c.cv[i]))))
        |    AS cos_centroid
        |  FROM asg a JOIN e USING (vec_id) JOIN c3 c ON a.cid = c.cid),
        |nn AS (SELECT vec_id, v,
        |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm
        |  FROM e),
        |sa AS (SELECT * FROM asg WHERE vec_id % 2 = 0),
        |scp AS (SELECT cid FROM sa GROUP BY cid
        |  HAVING count(*) <= ${graft.operators.Similarity.SemDedupCellCap}),
        |spp AS (SELECT x.vec_id AS ia, y.vec_id AS ib
        |  FROM sa x JOIN scp ON x.cid = scp.cid
        |  JOIN sa y ON x.cid = y.cid AND x.vec_id < y.vec_id
        |  JOIN nn na ON na.vec_id = x.vec_id JOIN nn nb ON nb.vec_id = y.vec_id
        |  WHERE list_sum(list_transform(range(1, len(na.v)+1),
        |    i -> na.v[i]*nb.v[i])) / (na.nrm * nb.nrm) >= 0.4),
        |sed AS (SELECT ia AS src, ib AS dst FROM spp
        |  UNION ALL SELECT ib, ia FROM spp),
        |sreach(vec_id, lbl) AS (
        |  SELECT vec_id, vec_id FROM sa
        |  UNION
        |  SELECT sed.src, r.lbl FROM sed JOIN sreach r ON sed.dst = r.vec_id),
        |slab AS (SELECT vec_id, min(lbl) AS component_id FROM sreach GROUP BY vec_id),
        |ssv AS (SELECT component_id, vec_id AS keep_id FROM (
        |  SELECT slab.component_id, slab.vec_id,
        |    row_number() OVER (PARTITION BY slab.component_id
        |      ORDER BY cc.cos_centroid ASC, slab.vec_id ASC) AS rn
        |  FROM slab JOIN cc USING (vec_id)) WHERE rn = 1),
        |skept AS (SELECT slab.vec_id, sa.cid
        |  FROM slab JOIN ssv USING (component_id) JOIN sa ON sa.vec_id = slab.vec_id
        |  WHERE slab.vec_id = ssv.keep_id),
        |ba AS (SELECT * FROM asg WHERE vec_id % 2 = 1),
        |hits AS (SELECT DISTINCT b.vec_id
        |  FROM ba b JOIN skept s ON b.cid = s.cid
        |  JOIN nn nb ON nb.vec_id = b.vec_id JOIN nn ns ON ns.vec_id = s.vec_id
        |  WHERE list_sum(list_transform(range(1, len(nb.v)+1),
        |    i -> nb.v[i]*ns.v[i])) / (nb.nrm * ns.nrm) >= 0.4),
        |fr AS (SELECT * FROM ba WHERE vec_id NOT IN (SELECT vec_id FROM hits)),
        |fcp AS (SELECT cid FROM fr GROUP BY cid
        |  HAVING count(*) <= ${graft.operators.Similarity.SemDedupCellCap}),
        |fpp AS (SELECT x.vec_id AS ia, y.vec_id AS ib
        |  FROM fr x JOIN fcp ON x.cid = fcp.cid
        |  JOIN fr y ON x.cid = y.cid AND x.vec_id < y.vec_id
        |  JOIN nn na ON na.vec_id = x.vec_id JOIN nn nb ON nb.vec_id = y.vec_id
        |  WHERE list_sum(list_transform(range(1, len(na.v)+1),
        |    i -> na.v[i]*nb.v[i])) / (na.nrm * nb.nrm) >= 0.4),
        |fed AS (SELECT ia AS src, ib AS dst FROM fpp
        |  UNION ALL SELECT ib, ia FROM fpp),
        |freach(vec_id, lbl) AS (
        |  SELECT vec_id, vec_id FROM fr
        |  UNION
        |  SELECT fed.src, r.lbl FROM fed JOIN freach r ON fed.dst = r.vec_id),
        |flab AS (SELECT vec_id, min(lbl) AS component_id FROM freach GROUP BY vec_id),
        |fsz AS (SELECT vec_id, component_id,
        |  count(*) OVER (PARTITION BY component_id) AS component_size FROM flab),
        |fsv AS (SELECT component_id, vec_id AS keep_id FROM (
        |  SELECT flab.component_id, flab.vec_id,
        |    row_number() OVER (PARTITION BY flab.component_id
        |      ORDER BY cc.cos_centroid ASC, flab.vec_id ASC) AS rn
        |  FROM flab JOIN cc USING (vec_id)) WHERE rn = 1)
        |SELECT f.vec_id, emb.label, fr.cid AS cell_id,
        |  CAST(f.component_size AS BIGINT) AS component_size,
        |  cc.cos_centroid,
        |  CAST(f.component_size - 1 AS BIGINT) AS n_absorbed
        |FROM fsz f JOIN fsv USING (component_id)
        |JOIN fr ON fr.vec_id = f.vec_id
        |JOIN cc ON cc.vec_id = f.vec_id
        |JOIN embeddings emb ON emb.vec_id = f.vec_id
        |WHERE f.vec_id = fsv.keep_id
        |ORDER BY f.vec_id""".stripMargin,

    // PQ code assignment: per-subspace unrolled-Lloyd codebooks (the
    // shared CTE), final argmin per subspace with the nano-quantized
    // subspace error; subspaces stack via UNION ALL
    "pq_codes" ->
      s"""$pqCteSql
        |${(0 until 8).map(i =>
            s"SELECT vec_id, CAST($i AS BIGINT) AS subspace, code, sq_err_nano FROM f$i")
            .mkString("", "\nUNION ALL ", "")}
        |ORDER BY vec_id, subspace""".stripMargin,

    // Exploded per-subspace final codebooks — each c{i}_2 is exactly
    // the Scala-side trained book (bit-identical by the shared recipe)
    "pq_centroids" ->
      s"""$pqCteSql
        |${(0 until 8).map(i =>
            s"SELECT CAST($i AS BIGINT) AS subspace, cid AS cluster_id, " +
              s"CAST(u.i - 1 AS BIGINT) AS dim_idx, u.x AS centroid_val " +
              s"FROM (SELECT cid, unnest(list_transform(range(1, len(cv)+1), " +
              s"j -> {'i': CAST(j AS BIGINT), 'x': cv[j]})) AS u FROM c${i}_2)")
            .mkString("", "\nUNION ALL ", "")}
        |ORDER BY subspace, cluster_id, dim_idx""".stripMargin,

    // PQ asymmetric-distance search: quantized reconstruction = the
    // winning centroid per subspace concatenated back to 64 dims, ADC
    // distance = one ordered 64-term fold probe-vs-reconstruction,
    // nano-quantized BEFORE ranking so the rank ties (on the BIGINT,
    // then nid) agree bit-exactly with Spark
    "knn_pq_adc" ->
      s"""$pqCteSql,
        |rec AS MATERIALIZED (SELECT f0.vec_id,
        |  ${(0 until 8).map(i => s"f$i.cv").mkString(" || ")} AS rv
        |FROM f0 ${(1 until 8).map(i => s"JOIN f$i USING (vec_id)").mkString(" ")}),
        |pr AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
        |sc AS (SELECT pr.qid, rec.vec_id AS nid,
        |  CAST(floor(list_sum(list_transform(range(1, len(pr.qv)+1),
        |    j -> (pr.qv[j]-rec.rv[j])*(pr.qv[j]-rec.rv[j]))) * 1e9 + 0.5) AS BIGINT)
        |    AS adc_dist_nano
        |FROM rec CROSS JOIN pr WHERE pr.qid <> rec.vec_id),
        |rk AS (SELECT qid, nid, adc_dist_nano,
        |  CAST(row_number() OVER (PARTITION BY qid
        |    ORDER BY adc_dist_nano ASC, nid ASC) AS BIGINT) AS rank FROM sc)
        |SELECT qid, rank, nid, adc_dist_nano FROM rk
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // IVF-PQ: the PQ CTE chain + a "g"-prefixed coarse-kmeans chain
    // (same generator as the bare kmeans oracles), corpus cell = L2
    // argmin under gc3, probes take their 2 nearest cells, ADC ranks
    // the quantized reconstructions within probed cells only (search
    // chain shared with the r8 recall evaluator — ivfPqSearchCtes)
    "knn_ivf_pq" ->
      s"""$pqCteSql,
        |$ivfPqSearchCtes
        |SELECT qid, rank, nid, adc_dist_nano FROM rk
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // Recall@5 of IVF-PQ vs brute-force cosine ground truth (r8): the
    // shared search chain + the ann_recall set-arithmetic tail (n_lsh
    // column name kept for schema parity with the shared evaluator).
    "ann_recall_ivf_pq" ->
      s"""$pqCteSql,
        |$ivfPqSearchCtes,
        |ap AS (SELECT qid, nid FROM rk WHERE rank <= 5),
        |n AS (SELECT vec_id, v,
        |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm FROM e),
        |bs AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |  list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i]*c.v[i])) / (q.nrm * c.nrm) AS cos_sim
        |FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
        |br AS (SELECT qid, nid,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM bs),
        |b AS (SELECT qid, nid FROM br WHERE rank <= 5),
        |h AS (SELECT b.qid, CAST(count(*) AS BIGINT) AS n_brute,
        |  CAST(sum(CASE WHEN ap.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |FROM b LEFT JOIN ap ON b.qid = ap.qid AND b.nid = ap.nid GROUP BY 1),
        |nl AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_lsh FROM ap GROUP BY 1)
        |SELECT h.qid, n_brute, coalesce(n_lsh, CAST(0 AS BIGINT)) AS n_lsh, n_hit,
        |  CAST(n_hit AS DOUBLE) / 5.0 AS recall
        |FROM h LEFT JOIN nl ON h.qid = nl.qid ORDER BY h.qid""".stripMargin,

    // PQ codes in the OPQ-ROTATED space: the rotated source CTE (H
    // regenerated from bit parity, only the md5 signs embed) feeding
    // the IDENTICAL per-subspace unrolled-Lloyd chain as pq_codes.
    "opq_codes" ->
      s"""WITH $opqRotatedCteSql,
        |${pqBlocksSql("", "e")}
        |${(0 until 8).map(i =>
            s"SELECT vec_id, CAST($i AS BIGINT) AS subspace, code, sq_err_nano FROM f$i")
            .mkString("", "\nUNION ALL ", "")}
        |ORDER BY vec_id, subspace""".stripMargin,

    // Recall of the rotated-space IVF-PQ index: candidate chain runs
    // entirely on the rotated `e`, ground truth stays the exact
    // cosine over the ORIGINAL `e0` floats (rotation preserves
    // cosine; Spark computes the truth on the raw frame, so the
    // oracle must too — the two spaces agree in real arithmetic but
    // not bit-for-bit).
    "ann_recall_ivf_pq_opq" ->
      s"""WITH $opqRotatedCteSql,
        |${pqBlocksSql("", "e")},
        |$ivfPqSearchCtes,
        |ap AS (SELECT qid, nid FROM rk WHERE rank <= 5),
        |n AS (SELECT vec_id, v,
        |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm FROM eraw),
        |bs AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |  list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i]*c.v[i])) / (q.nrm * c.nrm) AS cos_sim
        |FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
        |br AS (SELECT qid, nid,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM bs),
        |b AS (SELECT qid, nid FROM br WHERE rank <= 5),
        |h AS (SELECT b.qid, CAST(count(*) AS BIGINT) AS n_brute,
        |  CAST(sum(CASE WHEN ap.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |FROM b LEFT JOIN ap ON b.qid = ap.qid AND b.nid = ap.nid GROUP BY 1),
        |nl AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_lsh FROM ap GROUP BY 1)
        |SELECT h.qid, n_brute, coalesce(n_lsh, CAST(0 AS BIGINT)) AS n_lsh, n_hit,
        |  CAST(n_hit AS DOUBLE) / 5.0 AS recall
        |FROM h LEFT JOIN nl ON h.qid = nl.qid ORDER BY h.qid""".stripMargin,

    // The learned-rotation twin: identical recall chain, but `e` is
    // the corpus rotated by the DUMP-TIME-INLINED trained matrix
    // (opqLearnedRotLiteral) instead of the regenerated Hadamard —
    // the BPE training-vs-apply oracle boundary: Ge §4 training is
    // driver math, applying the trained artifact is SQL.
    "ann_recall_ivf_pq_opq_learned" ->
      s"""WITH $opqLearnedRotatedCteSql,
        |${pqBlocksSql("", "e")},
        |$ivfPqSearchCtes,
        |ap AS (SELECT qid, nid FROM rk WHERE rank <= 5),
        |n AS (SELECT vec_id, v,
        |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm FROM eraw),
        |bs AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |  list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i]*c.v[i])) / (q.nrm * c.nrm) AS cos_sim
        |FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
        |br AS (SELECT qid, nid,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM bs),
        |b AS (SELECT qid, nid FROM br WHERE rank <= 5),
        |h AS (SELECT b.qid, CAST(count(*) AS BIGINT) AS n_brute,
        |  CAST(sum(CASE WHEN ap.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |FROM b LEFT JOIN ap ON b.qid = ap.qid AND b.nid = ap.nid GROUP BY 1),
        |nl AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_lsh FROM ap GROUP BY 1)
        |SELECT h.qid, n_brute, coalesce(n_lsh, CAST(0 AS BIGINT)) AS n_lsh, n_hit,
        |  CAST(n_hit AS DOUBLE) / 5.0 AS recall
        |FROM h LEFT JOIN nl ON h.qid = nl.qid ORDER BY h.qid""".stripMargin,

    // Residual IVF-PQ (r8): the raw chain's coarse quantizer ("g"
    // prefix) assigns cells; residuals round through REAL — the same
    // IEEE float cast Spark applies — before the "r"-prefixed
    // per-subspace Lloyd chain; probes take a residual PER probed
    // cell; ADC fold/quantize/rank identical to knn_ivf_pq.
    "knn_ivf_pq_residual" ->
      s"""WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |$ivfPqResidualSearchCtes
        |SELECT qid, rank, nid, adc_dist_nano FROM rk2
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // The COMPOSED production stack (r14, VERDICT r13 #3): the
    // dump-time-inlined learned rotation feeds the IDENTICAL residual
    // chain — rotate, coarse-assign in the rotated frame, residual-
    // encode, ADC-rank. Rotation preserves L2, so only the source CTE
    // differs from knn_ivf_pq_residual.
    "knn_ivf_pq_residual_opq_learned" -> knnIvfPqResidualOpqLearnedSql,

    // Recall of the composed index: candidates from the rotated
    // residual chain, ground truth the exact cosine over the ORIGINAL
    // floats (eraw) — the point evaluator the composed curve's np=2
    // row cross-pins to.
    "ann_recall_ivf_pq_residual_opq_learned" ->
      annRecallIvfPqResidualOpqLearnedSql,

    // The r15 pretrained twins (VERDICT r14 #3): searching under the
    // persisted artifact is bit-identical to the self-training form
    // (spec frame-equality), so the SAME SQL over the same dump-time
    // rotation literal checks both — the bpe_encode_pretrained oracle
    // convention on the ANN side.
    "knn_ivf_pq_residual_opq_pretrained" -> knnIvfPqResidualOpqLearnedSql,
    "ann_recall_ivf_pq_residual_opq_pretrained" ->
      annRecallIvfPqResidualOpqLearnedSql,

    "multimodal_meta" ->
      """WITH t AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS nb FROM documents),
        |m AS (SELECT doc_id, nb AS n_bytes,
        |  CASE WHEN nb % 3 = 0 THEN 'png' WHEN nb % 3 = 1 THEN 'jpeg' ELSE 'webp' END AS format,
        |  (nb*7) % 640 + 16 AS width,
        |  (nb*13) % 480 + 16 AS height,
        |  CAST((nb*7) % 640 + 16 AS DOUBLE) / ((nb*13) % 480 + 16) AS aspect_ratio
        |FROM t)
        |SELECT doc_id, n_bytes, format, width, height, aspect_ratio,
        |  CAST(256 AS BIGINT) AS resized_w, (height*256)//width AS resized_h
        |FROM m ORDER BY doc_id""".stripMargin,

    "multimodal_frames" ->
      """WITH t AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS nb FROM documents),
        |f AS (SELECT doc_id, nb % 5 + 1 AS n_frames FROM t),
        |e AS (SELECT doc_id, n_frames, unnest(range(0, n_frames)) AS frame_idx FROM f)
        |SELECT doc_id, n_frames, frame_idx, frame_idx*1000 AS frame_ts_ms,
        |  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(frame_idx AS VARCHAR)) AS frame_md5
        |FROM e ORDER BY doc_id, frame_idx""".stripMargin,

    // ---- D (r5). corpus construction ----

    // Connected components over the LSH candidate-pair graph: the
    // recursive CTE floods every reachable label through the (doubled)
    // edge set; min per doc = Dedup.clusters' propagated fixpoint.
    "dedup_clusters" ->
      s"""WITH RECURSIVE $minhashCtes,
         |$bandPairCtes,
         |ed AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |  UNION ALL SELECT doc_b, doc_a FROM cand),
         |reach(doc_id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT ed.src, r.lbl FROM ed JOIN reach r ON ed.dst = r.doc_id),
         |lab AS (SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc_id)
         |SELECT doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |  doc_id = cluster_id AS is_canonical
         |FROM lab ORDER BY doc_id""".stripMargin,

    // The deduplicated corpus itself: canonical survivors of the
    // cluster components, annotated with absorbed-dup counts.
    "dedup_prune" ->
      s"""WITH RECURSIVE $minhashCtes,
         |$bandPairCtes,
         |ed AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |  UNION ALL SELECT doc_b, doc_a FROM cand),
         |reach(doc_id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT ed.src, r.lbl FROM ed JOIN reach r ON ed.dst = r.doc_id),
         |lab AS (SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc_id),
         |sz AS (SELECT doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size FROM lab)
         |SELECT d.doc_id, d.lang, d.source, d.n_chars,
         |  s.cluster_size, s.cluster_size - 1 AS n_dups_removed
         |FROM sz s JOIN documents d ON s.doc_id = d.doc_id
         |WHERE s.doc_id = s.cluster_id ORDER BY d.doc_id""".stripMargin,

    // The oracle states the semantics as the GLOBAL window the
    // distributed two-phase ordinal replaces; lowercase fixed-width
    // hex md5 keys compare identically as strings in both engines.
    "corpus_shuffle" ->
      """SELECT doc_id, lang,
        |  row_number() OVER (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id)
        |    - 1 AS shuffle_pos
        |FROM documents ORDER BY doc_id""".stripMargin,

    "corpus_curriculum" ->
      """WITH t AS (SELECT doc_id, lang,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  md5('42:' || CAST(doc_id AS VARCHAR)) AS k FROM documents),
        |r AS (SELECT doc_id, lang, n_tokens,
        |  row_number() OVER (ORDER BY n_tokens, k, doc_id) - 1 AS curriculum_pos
        |FROM t)
        |SELECT doc_id, lang, n_tokens, curriculum_pos,
        |  (curriculum_pos * 4) // (SELECT count(*) FROM t) AS stage
        |FROM r ORDER BY doc_id""".stripMargin,

    // stride-scheduled mixing order: per-source md5-shuffled rank,
    // virtual time = rank/weight, global row_number over (vt, source,
    // doc_id) — the oracle states both windows the chained two-phase
    // ordinals replace
    "corpus_interleave" ->
      """WITH s AS (SELECT doc_id, source,
        |  CAST(CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 0.9
        |    WHEN CAST(substr(source, 4) AS INT) < 10 THEN 0.5
        |    WHEN CAST(substr(source, 4) AS INT) < 15 THEN 0.25
        |    ELSE 0.1 END AS DOUBLE) AS weight,
        |  md5('interleave:' || CAST(doc_id AS VARCHAR)) AS k
        |FROM documents),
        |r AS (SELECT doc_id, source, weight,
        |  row_number() OVER (PARTITION BY source ORDER BY k, doc_id) AS src_rank
        |FROM s),
        |v AS (SELECT doc_id, source, src_rank,
        |  CAST(src_rank AS DOUBLE) / weight AS vt FROM r)
        |SELECT doc_id, source, src_rank, vt,
        |  row_number() OVER (ORDER BY vt, source, doc_id) - 1 AS interleave_pos
        |FROM v ORDER BY doc_id""".stripMargin,

    "corpus_sample" ->
      s"""WITH s AS (SELECT doc_id, source, lang,
         |  CAST(CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 0.9
         |    WHEN CAST(substr(source, 4) AS INT) < 10 THEN 0.5
         |    WHEN CAST(substr(source, 4) AS INT) < 15 THEN 0.25
         |    ELSE 0.1 END AS DOUBLE) AS weight,
         |  ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
         |    / CAST(268435456 AS DOUBLE) AS sample_key
         |FROM documents)
         |SELECT doc_id, source, lang, weight, sample_key FROM s
         |WHERE sample_key < weight ORDER BY doc_id""".stripMargin,

    "corpus_mix_summary" ->
      s"""WITH s AS (SELECT source, doc_id,
         |  CAST(substr(source, 4) AS BIGINT) AS src_num,
         |  CAST(CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 0.9
         |    WHEN CAST(substr(source, 4) AS INT) < 10 THEN 0.5
         |    WHEN CAST(substr(source, 4) AS INT) < 15 THEN 0.25
         |    ELSE 0.1 END AS DOUBLE) AS weight,
         |  ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
         |    / CAST(268435456 AS DOUBLE) AS sample_key
         |FROM documents),
         |g AS (SELECT src_num, source, weight, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN sample_key < weight THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM s GROUP BY 1, 2, 3)
         |SELECT src_num, source, weight, n_docs, n_kept,
         |  CAST(n_kept AS DOUBLE) / n_docs AS achieved_rate
         |FROM g ORDER BY src_num""".stripMargin,

    "stratified_sample" ->
      s"""WITH s AS (SELECT doc_id, lang,
         |  ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
         |    / CAST(268435456 AS DOUBLE) AS sample_key
         |FROM documents),
         |r AS (SELECT lang, doc_id, sample_key,
         |  row_number() OVER (PARTITION BY lang ORDER BY sample_key, doc_id) AS rn FROM s)
         |SELECT lang, rn, doc_id, sample_key FROM r WHERE rn <= 20
         |ORDER BY lang, rn""".stripMargin,

    // α = 1/2 temperature rebalance: sqrt is correctly rounded in both
    // engines, so rate (and every threshold decision) is bit-identical.
    // UniMax epoch-capped water-filling: languages sorted by cap
    // ascending; capped iff cap·(L−rk+1) < B − prefix_before (exact
    // integer logic); the uncapped split the remainder equally
    "corpus_unimax" -> unimaxAllocSql(20000L, 1),
    // the epochs>1 branch of the cap logic under full oracle (r17 —
    // previously spec-only): caps at 3 epochs with a budget that
    // leaves small languages capped and the head sharing the rest
    "corpus_unimax_epochs" -> unimaxAllocSql(60000L, 3),

    // the UniMax apply: per-language epochs → full copies for every
    // doc + a frac(epochs)-rate Bernoulli remainder pass on the
    // deterministic "unimax:" sample key (map-only, the
    // corpus_temperature decision shape)
    "corpus_unimax_select" -> unimaxSelectSql(20000L, 1),
    // the multi-copy apply: full_epochs >= 2 exercised under oracle
    "corpus_unimax_select_epochs" -> unimaxSelectSql(60000L, 3),

    "corpus_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
        |m AS (SELECT min(n_lang) AS n_min FROM c),
        |r AS (SELECT lang, sqrt(CAST(n_min AS DOUBLE) / n_lang) AS rate FROM c, m),
        |k AS (SELECT doc_id, lang,
        |  ('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
        |    / CAST(268435456 AS DOUBLE) AS sample_key
        |FROM documents)
        |SELECT k.doc_id, k.lang, r.rate, k.sample_key
        |FROM k JOIN r USING (lang)
        |WHERE sample_key < rate ORDER BY doc_id""".stripMargin,

    "corpus_temperature_summary" ->
      """WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
        |m AS (SELECT min(n_lang) AS n_min FROM c),
        |r AS (SELECT lang, n_lang, sqrt(CAST(n_min AS DOUBLE) / n_lang) AS rate FROM c, m),
        |k AS (SELECT doc_id, lang,
        |  ('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
        |    / CAST(268435456 AS DOUBLE) AS sample_key
        |FROM documents)
        |SELECT lang, n_lang, rate,
        |  CAST(sum(CASE WHEN sample_key < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN sample_key < rate THEN 1 ELSE 0 END) AS DOUBLE) / n_lang
        |    AS achieved_rate
        |FROM k JOIN r USING (lang)
        |GROUP BY lang, n_lang, rate ORDER BY lang""".stripMargin,

    "seq_pack" ->
      s"""WITH tk AS (SELECT doc_id, lang,
         |  len(string_split_regex(trim(text), '\\s+')) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
         |FROM tk)
         |SELECT doc_id, lang, n_tokens, tokens_before // 2048 AS pack_id,
         |  tokens_before % 2048 AS pack_offset
         |FROM c ORDER BY doc_id""".stripMargin,

    // The same prefix-sum geometry with the token source swapped to
    // the trained UNIGRAM dictionary's per-doc cost (r12 VERDICT #5;
    // the seq_pack_bpe mechanism with the 35s5 dictionary).
    "seq_pack_unigram" ->
      s"""WITH dict(word, syms, n_pieces) AS (VALUES $UnigramDictPlaceholder),
         |w AS (SELECT doc_id,
         |  unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
         |FROM documents),
         |bt AS (SELECT doc_id, CAST(sum(n_pieces) AS BIGINT) AS n_tokens
         |  FROM w JOIN dict USING (word) WHERE word <> '' GROUP BY 1),
         |tk AS (SELECT d.doc_id, d.lang, bt.n_tokens
         |  FROM documents d JOIN bt USING (doc_id)),
         |c AS (SELECT doc_id, lang, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
         |FROM tk)
         |SELECT doc_id, lang, n_tokens, tokens_before // 2048 AS pack_id,
         |  tokens_before % 2048 AS pack_offset
         |FROM c ORDER BY doc_id""".stripMargin,

    // The same prefix-sum geometry with the token source swapped to
    // the TRAINED BPE dictionary's per-doc cost (the 35s2 VALUES
    // mechanism — Verify inlines the dictionary at dump time).
    "seq_pack_bpe" ->
      s"""WITH dict(word, syms, n_syms) AS (VALUES $BpeDictPlaceholder),
         |w AS (SELECT doc_id,
         |  unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
         |FROM documents),
         |bt AS (SELECT doc_id, CAST(sum(n_syms) AS BIGINT) AS n_tokens
         |  FROM w JOIN dict USING (word) WHERE word <> '' GROUP BY 1),
         |tk AS (SELECT d.doc_id, d.lang, bt.n_tokens
         |  FROM documents d JOIN bt USING (doc_id)),
         |c AS (SELECT doc_id, lang, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
         |FROM tk)
         |SELECT doc_id, lang, n_tokens, tokens_before // 2048 AS pack_id,
         |  tokens_before % 2048 AS pack_offset
         |FROM c ORDER BY doc_id""".stripMargin,

    // shuffle-then-pack: the prefix sum runs over the epoch order
    // (corpus_shuffle's global window restated), not raw doc_id order
    "seq_pack_shuffled" ->
      """WITH s AS (SELECT doc_id,
        |  row_number() OVER (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id)
        |    - 1 AS shuffle_pos
        |FROM documents),
        |tk AS (SELECT d.doc_id, d.lang, s.shuffle_pos,
        |  len(string_split_regex(trim(d.text), '\s+')) AS n_tokens
        |FROM documents d JOIN s USING (doc_id)),
        |c AS (SELECT doc_id, lang, n_tokens, shuffle_pos,
        |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY shuffle_pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tb
        |FROM tk)
        |SELECT doc_id, lang, n_tokens, shuffle_pos,
        |  tb // 2048 AS pack_id, tb % 2048 AS pack_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    // Identical to seq_pack on purpose: the Spark side stitches two
    // separately-planned increments (the second continued from carried
    // per-lang totals); matching the one-shot SQL proves the
    // continuation is exact.
    "seq_pack_incremental" ->
      s"""WITH tk AS (SELECT doc_id, lang,
         |  len(string_split_regex(trim(text), '\\s+')) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
         |FROM tk)
         |SELECT doc_id, lang, n_tokens, tokens_before // 2048 AS pack_id,
         |  tokens_before % 2048 AS pack_offset
         |FROM c ORDER BY doc_id""".stripMargin,

    "seq_pack_summary" ->
      s"""WITH tk AS (SELECT doc_id, lang,
         |  len(string_split_regex(trim(text), '\\s+')) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
         |FROM tk)
         |SELECT lang, tokens_before // 2048 AS pack_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(sum(n_tokens) AS DOUBLE) / 2048 AS fill_ratio
         |FROM c GROUP BY 1, 2 ORDER BY lang, pack_id""".stripMargin,

    // Doc → pack span pieces (straddlers split at pack boundaries);
    // DuckDB range() is end-exclusive, so the covered-pack range is
    // range(start//cap, (end-1)//cap + 1).
    "seq_pack_manifest" ->
      s"""WITH tk AS (SELECT doc_id, lang,
         |  len(string_split_regex(trim(text), '\\s+')) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         |FROM tk),
         |e AS (SELECT doc_id, lang, start_tok, start_tok + n_tokens AS end_tok FROM c),
         |x AS (SELECT doc_id, lang, start_tok, end_tok,
         |  unnest(range(start_tok // 2048, (end_tok - 1) // 2048 + 1)) AS pack_id FROM e)
         |SELECT lang, pack_id, doc_id,
         |  greatest(start_tok, pack_id * 2048) AS span_start,
         |  least(end_tok, (pack_id + 1) * 2048) AS span_end,
         |  least(end_tok, (pack_id + 1) * 2048) - greatest(start_tok, pack_id * 2048) AS span_tokens
         |FROM x ORDER BY lang, pack_id, doc_id""".stripMargin,

    // The writer: slice each doc's token list to its manifest spans
    // (DuckDB list_slice is 1-based inclusive; Spark slice is 1-based
    // start + length — same window), concat pieces in doc_id order,
    // md5 the stream.
    "seq_pack_sequences" ->
      s"""WITH tk AS (SELECT doc_id, lang,
         |  string_split_regex(trim(text), '\\s+') AS tokens,
         |  len(string_split_regex(trim(text), '\\s+')) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, lang, tokens, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         |FROM tk),
         |e AS (SELECT doc_id, lang, tokens, start_tok,
         |  start_tok + n_tokens AS end_tok FROM c),
         |x AS (SELECT doc_id, lang, tokens, start_tok, end_tok,
         |  unnest(range(start_tok // 2048, (end_tok - 1) // 2048 + 1)) AS pack_id FROM e),
         |s AS (SELECT lang, pack_id, doc_id,
         |  greatest(start_tok, pack_id * 2048) AS span_start,
         |  least(end_tok, (pack_id + 1) * 2048) AS span_end,
         |  array_to_string(list_slice(tokens,
         |    CAST(greatest(start_tok, pack_id * 2048) - start_tok + 1 AS BIGINT),
         |    CAST(least(end_tok, (pack_id + 1) * 2048) - start_tok AS BIGINT)), ' ') AS piece
         |FROM x)
         |SELECT lang, pack_id, count(*) AS n_docs,
         |  CAST(sum(span_end - span_start) AS BIGINT) AS n_tokens,
         |  md5(string_agg(piece, ' ' ORDER BY doc_id)) AS pack_md5
         |FROM s GROUP BY 1, 2 ORDER BY lang, pack_id""".stripMargin,

    // URL → EMAIL → PHONE replace order mirrors Corpus.piiScrub; the
    // patterns are the shared Scala constants (single source of truth).
    "pii_scrub" ->
      s"""WITH t AS (SELECT doc_id, lower(trim(text)) AS nt FROM documents),
         |r AS (SELECT doc_id, nt,
         |  regexp_replace(regexp_replace(regexp_replace(nt,
         |    '${Corpus.UrlPattern}', '<URL>', 'g'),
         |    '${Corpus.EmailPattern}', '<EMAIL>', 'g'),
         |    '${Corpus.PhonePattern}', '<PHONE>', 'g') AS red
         |FROM t)
         |SELECT doc_id,
         |  len(regexp_extract_all(nt, '${Corpus.UrlPattern}')) AS n_urls,
         |  len(regexp_extract_all(nt, '${Corpus.EmailPattern}')) AS n_emails,
         |  len(regexp_extract_all(nt, '${Corpus.PhonePattern}')) AS n_phones,
         |  length(red) AS n_chars_redacted, md5(red) AS redacted_md5
         |FROM r ORDER BY doc_id""".stripMargin,

    // End-to-end manifest: quality keep (text_quality's verdict),
    // cluster-canonical (the recursive label flood), sampled (the
    // mixing threshold) — same per-stage logic as the standalone
    // oracles, composed and rolled up per language.
    "corpus_report" ->
      s"""WITH RECURSIVE $minhashCtes,
         |$bandPairCtes,
         |ed AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |  UNION ALL SELECT doc_b, doc_a FROM cand),
         |reach(doc_id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT ed.src, r.lbl FROM ed JOIN reach r ON ed.dst = r.doc_id),
         |lab AS (SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc_id),
         |q AS (SELECT doc_id, (s1 + s2 + s3 + s4) >= 3 AS keep FROM (
         |  SELECT doc_id,
         |    CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1 ELSE 0 END AS s1,
         |    CASE WHEN len(string_split(lower(trim(text)), ' ')) >= 20 THEN 1 ELSE 0 END AS s2,
         |    CASE WHEN CAST(len(list_filter(string_split(lower(trim(text)), ' '),
         |        x -> x IN ('the','a','and','of','to'))) AS DOUBLE) /
         |        len(string_split(lower(trim(text)), ' ')) BETWEEN 0.02 AND 0.6
         |      THEN 1 ELSE 0 END AS s3,
         |    CASE WHEN CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
         |        / length(text) < 0.1 THEN 1 ELSE 0 END AS s4
         |  FROM documents)),
         |smp AS (SELECT doc_id,
         |  ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
         |    / CAST(268435456 AS DOUBLE) <
         |  CAST(CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 0.9
         |    WHEN CAST(substr(source, 4) AS INT) < 10 THEN 0.5
         |    WHEN CAST(substr(source, 4) AS INT) < 15 THEN 0.25
         |    ELSE 0.1 END AS DOUBLE) AS sampled
         |FROM documents),
         |j AS (SELECT d.doc_id, d.lang,
         |  len(string_split_regex(trim(d.text), '\\s+')) AS n_tokens,
         |  q.keep, lab.doc_id = lab.cluster_id AS canon, smp.sampled
         |FROM documents d JOIN q USING (doc_id)
         |JOIN lab ON d.doc_id = lab.doc_id JOIN smp USING (doc_id))
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(sum(CASE WHEN canon THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
         |  CAST(sum(CASE WHEN keep AND canon AND sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(sum(CASE WHEN keep AND canon AND sampled THEN n_tokens ELSE 0 END) AS BIGINT) AS final_tokens
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin,

    // Rational tf·N/df score (not tf·ln(N/df)): integer-derived doubles
    // are bit-identical across engines, ln() is not — see Corpus
    // .tfidfTopTerms.
    "tfidf_top_terms" ->
      s"""WITH t AS (SELECT doc_id, lower(trim(text)) AS nt FROM documents),
         |e AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS term FROM t),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM e GROUP BY 1, 2),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM e GROUP BY 1),
         |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         |s AS (SELECT doc_id, term, tf, df,
         |  CAST(tf AS DOUBLE) * n_docs / df AS score
         |FROM tf JOIN df USING (term) CROSS JOIN n),
         |r AS (SELECT doc_id, term, tf, df, score,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
         |FROM s)
         |SELECT doc_id, rank, term, tf, df, score FROM r WHERE rank <= 3
         |ORDER BY doc_id, rank""".stripMargin,

    // BM25 determinism: exact-integer inputs, one-division idf
    // argument, per-(doc,term) micro-quantization BEFORE the per-doc
    // sum (LONG aggregation is order-independent); expression order
    // mirrors Corpus.bm25TopDocs parenthesis-for-parenthesis.
    "bm25_top_docs" ->
      s"""WITH t AS (SELECT doc_id, lower(trim(text)) AS nt FROM documents),
         |dl AS (SELECT doc_id, CAST(len(string_split(nt, ' ')) AS BIGINT) AS dl FROM t),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
         |e AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS term FROM t),
         |m AS (SELECT doc_id, term FROM e WHERE term IN ('hash', 'join', 'merge')),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM m GROUP BY 1, 2),
         |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM m GROUP BY 1),
         |c AS (SELECT tf.doc_id,
         |  CAST(floor(
         |    log2((2.0 * n_docs - 2.0 * df + 1.0) / (2.0 * df + 1.0) + 1.0)
         |    * 0.6931471805599453
         |    * ((CAST(tf AS DOUBLE) * 2.2)
         |       / (CAST(tf AS DOUBLE) + 0.3 + 0.9 * (CAST(dl * n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE))))
         |    * 1000000.0 + 0.5) AS BIGINT) AS contrib_micro
         |FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN tot),
         |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
         |  CAST(sum(contrib_micro) AS BIGINT) AS score_micro
         |FROM c GROUP BY 1 ORDER BY score_micro DESC, doc_id LIMIT 20)
         |SELECT CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank,
         |  doc_id, n_terms_matched, score_micro
         |FROM s ORDER BY rank""".stripMargin,

    // Multi-query BM25 sharing one tf/df pass; identical arithmetic to
    // bm25_top_docs, query-term table inlined as VALUES.
    "bm25_batch" ->
      s"""WITH q(query_id, term) AS (VALUES (CAST(0 AS BIGINT), 'hash'), (0, 'join'),
         |  (1, 'merge'), (1, 'sort'), (2, 'vector'), (2, 'scan'), (2, 'filter')),
         |t AS (SELECT doc_id, lower(trim(text)) AS nt FROM documents),
         |dl AS (SELECT doc_id, CAST(len(string_split(nt, ' ')) AS BIGINT) AS dl FROM t),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
         |e AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS term FROM t),
         |m AS (SELECT doc_id, term FROM e WHERE term IN (SELECT DISTINCT term FROM q)),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM m GROUP BY 1, 2),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |c AS (SELECT q.query_id, tf.doc_id,
         |  CAST(floor(
         |    log2((2.0 * n_docs - 2.0 * df + 1.0) / (2.0 * df + 1.0) + 1.0)
         |    * 0.6931471805599453
         |    * ((CAST(tf AS DOUBLE) * 2.2)
         |       / (CAST(tf AS DOUBLE) + 0.3 + 0.9 * (CAST(dl.dl * n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE))))
         |    * 1000000.0 + 0.5) AS BIGINT) AS contrib_micro
         |FROM tf JOIN df USING (term) JOIN q USING (term)
         |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN tot),
         |s AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
         |  CAST(sum(contrib_micro) AS BIGINT) AS score_micro
         |FROM c GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, n_terms_matched, score_micro,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
         |FROM s)
         |SELECT query_id, rank, doc_id, n_terms_matched, score_micro FROM r
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // BPE apply surface (VERDICT r7 #3): training's greedy fold is not
    // SQL-expressible (bpe_merges stays rows-only, spec-proven), but
    // given the TRAINED dictionary — inlined as VALUES by Verify, see
    // bpeDictValues — the word join and per-doc aggregation restate
    // independently in SQL.
    "bpe_token_counts" -> bpeTokenCountsSql,
    // pre-trained apply twin: output bit-identical by contract, same
    // dump-time dictionary, same SQL (r12 VERDICT #3)
    "bpe_token_counts_pretrained" -> bpeTokenCountsSql,
    "bpe_fertility" -> bpeFertilitySql,

    // the unigram-LM apply surface under the SAME training-vs-apply
    // boundary: the trained word→piece-count dictionary inlines as
    // VALUES at dump time (unigramDictValues), the per-doc word
    // explode + join + aggregation restates independently
    "unigram_token_counts" -> unigramTokenCountsSql,
    "unigram_token_counts_pretrained" -> unigramTokenCountsSql,

    // the unigram twin of bpe_encode's positional reassembly: word
    // positions ride the list transform, the dict join fans each word
    // to its space-joined piece string, and the order-by-pos
    // string_agg rebuilds exactly the stream Spark digests
    "unigram_encode" -> unigramEncodeSql,
    "unigram_encode_pretrained" -> unigramEncodeSql,
    // the soft-EM-trained artifact through the same reassembly: only
    // the dump-time dictionary differs (unigramSoftDictValues trains
    // with forward–backward expected counts)
    "unigram_encode_pretrained_soft" -> unigramEncodeSoftSql,
    // byte fallback is a no-op when the artifact's alphabet covers
    // the corpus (the training corpus by construction) — output
    // bit-identical to the plain apply, one SQL checks both; the
    // firing path is spec-pinned on the CJK fixture
    "unigram_encode_pretrained_bytefallback" -> unigramEncodeSql,

    // Positional reassembly: word positions ride the list transform,
    // the dict join fans each word to its symbol string, and the
    // order-by-pos string_agg rebuilds exactly the space-joined token
    // stream Spark digests (md5 lowercase hex in both engines).
    "bpe_encode" -> bpeEncodeSql,
    "bpe_encode_pretrained" -> bpeEncodeSql,
    "bpe_encode_bytes" -> bpeEncodeBytesSql,
    "bpe_encode_batched" -> bpeEncodeBatchedSql,

    // Zipf fit: integer micro-log x/y, exact LONG regression sums,
    // slope/intercept each one deterministic division — see
    // Corpus.zipfSlope. Shared with the incremental entry (vocabulary
    // merge associativity ⇒ byte-identical output).
    "corpus_zipf_slope" -> zipfSlopeSql,
    "corpus_zipf_incremental" -> zipfSlopeSql,

    "source_overlap" -> sourceOverlapSql,
    "source_overlap_incremental" -> sourceOverlapSql,

    // Recall@5 of the LSH index vs brute-force ground truth: both
    // component CTE chains verbatim (knn_cosine_bruteforce / knn_lsh),
    // then exact-integer hit counting; recall = n_hit/5.0 one division.
    "ann_recall" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |n AS (SELECT vec_id, v,
         |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm FROM e),
         |bs AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
         |  list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i]*c.v[i])) / (q.nrm * c.nrm) AS cos_sim
         |FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
         |br AS (SELECT qid, nid,
         |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM bs),
         |b AS (SELECT qid, nid FROM br WHERE rank <= 5),
         |sgt AS (SELECT vec_id, v, nrm, $lshSigSql AS sig FROM n),
         |ls AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
         |  list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i]*c.v[i])) / (q.nrm * c.nrm) AS cos_sim
         |FROM sgt q JOIN sgt c ON q.vec_id < 20 AND q.vec_id <> c.vec_id AND q.sig = c.sig),
         |lr AS (SELECT qid, nid,
         |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM ls),
         |l AS (SELECT qid, nid FROM lr WHERE rank <= 5),
         |h AS (SELECT b.qid, CAST(count(*) AS BIGINT) AS n_brute,
         |  CAST(sum(CASE WHEN l.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |FROM b LEFT JOIN l ON b.qid = l.qid AND b.nid = l.nid GROUP BY 1),
         |nl AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_lsh FROM l GROUP BY 1)
         |SELECT h.qid, n_brute, coalesce(n_lsh, CAST(0 AS BIGINT)) AS n_lsh, n_hit,
         |  CAST(n_hit AS DOUBLE) / 5.0 AS recall
         |FROM h LEFT JOIN nl ON h.qid = nl.qid ORDER BY h.qid""".stripMargin,

    // IVF recall: the knn_ivf candidate chain feeding the ann_recall
    // set-arithmetic tail (n_lsh column name kept for schema parity
    // with the evaluator's shared output shape).
    "ann_recall_ivf" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v,
        |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm FROM e),
        |bs AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |  list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i]*c.v[i])) / (q.nrm * c.nrm) AS cos_sim
        |FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
        |br AS (SELECT qid, nid,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM bs),
        |b AS (SELECT qid, nid FROM br WHERE rank <= 5),
        |cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16),
        |a AS (SELECT x.vec_id, x.v, x.nrm, c.cid,
        |  list_sum(list_transform(range(1, len(x.v)+1), i -> x.v[i]*c.cv[i])) / (x.nrm * c.cnrm) AS ccos
        |FROM n x CROSS JOIN cent c),
        |rk AS (SELECT vec_id, v, nrm, cid,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank FROM a),
        |corpus AS (SELECT vec_id AS nid, v AS nv, nrm AS nnrm, cid AS list_id
        |  FROM rk WHERE crank = 1),
        |probes AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cid AS list_id
        |  FROM rk WHERE vec_id < 20 AND crank <= 2),
        |s AS (SELECT p.qid, c.nid,
        |  list_sum(list_transform(range(1, len(p.qv)+1), i -> p.qv[i]*c.nv[i])) / (p.qnrm * c.nnrm) AS cos_sim
        |FROM corpus c JOIN probes p ON p.list_id = c.list_id AND p.qid <> c.nid),
        |g AS (SELECT qid, nid, max(cos_sim) AS cos_sim FROM s GROUP BY 1, 2),
        |r AS (SELECT qid, nid,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM g),
        |l AS (SELECT qid, nid FROM r WHERE rank <= 5),
        |h AS (SELECT b.qid, CAST(count(*) AS BIGINT) AS n_brute,
        |  CAST(sum(CASE WHEN l.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |FROM b LEFT JOIN l ON b.qid = l.qid AND b.nid = l.nid GROUP BY 1),
        |nl AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_lsh FROM l GROUP BY 1)
        |SELECT h.qid, n_brute, coalesce(n_lsh, CAST(0 AS BIGINT)) AS n_lsh, n_hit,
        |  CAST(n_hit AS DOUBLE) / 5.0 AS recall
        |FROM h LEFT JOIN nl ON h.qid = nl.qid ORDER BY h.qid""".stripMargin,

    // NSW graph search replayed with unrolled hop CTEs (the shared
    // nswCtes chain — fully deterministic: id ties, one cos fold)
    "knn_graph" ->
      s"""WITH $nswCtes
        |SELECT qid, rank, nid, cos_sim FROM gfin ORDER BY qid, rank""".stripMargin,

    // graph recall vs exact truth: gfin feeding the ann_recall
    // set-arithmetic tail (n_lsh column name kept for schema parity
    // with the evaluator's shared output shape)
    "ann_recall_graph" ->
      s"""WITH $nswCtes,
        |bs AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |  list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i]*c.v[i])) / (q.nrm * c.nrm) AS cos_sim
        |FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
        |br AS (SELECT qid, nid,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM bs),
        |b AS (SELECT qid, nid FROM br WHERE rank <= 5),
        |l AS (SELECT qid, nid FROM gfin),
        |h AS (SELECT b.qid, CAST(count(*) AS BIGINT) AS n_brute,
        |  CAST(sum(CASE WHEN l.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |FROM b LEFT JOIN l ON b.qid = l.qid AND b.nid = l.nid GROUP BY 1),
        |nl AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_lsh FROM l GROUP BY 1)
        |SELECT h.qid, n_brute, coalesce(n_lsh, CAST(0 AS BIGINT)) AS n_lsh, n_hit,
        |  CAST(n_hit AS DOUBLE) / 5.0 AS recall
        |FROM h LEFT JOIN nl ON h.qid = nl.qid ORDER BY h.qid""".stripMargin,

    // the graph family's curve: the SAME unrolled walk, per-hop rows
    // as filters over min_hop (candidate sets nest in hops by
    // construction — the shared-candidate discipline is structural)
    "ann_operating_curve_graph" ->
      s"""WITH $nswCtes,
        |gh AS (SELECT qid, nid, cos_sim, 0 AS hop FROM gs0
        |  UNION ALL SELECT qid, nid, cos_sim, 1 FROM gs1
        |  UNION ALL SELECT qid, nid, cos_sim, 2 FROM gs2
        |  UNION ALL SELECT qid, nid, cos_sim, 3 FROM gs3),
        |gp AS (SELECT qid, nid, min(hop) AS min_hop, max(cos_sim) AS cos_sim
        |  FROM gh GROUP BY 1, 2),
        |gg AS (SELECT CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS n_hops),
        |gcf AS (SELECT gp.qid, gp.nid, gp.cos_sim, gg.n_hops
        |  FROM gp CROSS JOIN gg WHERE gp.min_hop <= gg.n_hops),
        |gtk AS (SELECT n_hops, qid, nid FROM (
        |  SELECT n_hops, qid, nid, row_number() OVER (PARTITION BY n_hops, qid
        |    ORDER BY cos_sim DESC, nid) AS rn FROM gcf) WHERE rn <= 5),
        |bs AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |  list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i]*c.v[i])) / (q.nrm * c.nrm) AS cos_sim
        |FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
        |br AS (SELECT qid, nid,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM bs),
        |gtr AS (SELECT br.qid, br.nid, gg.n_hops FROM br CROSS JOIN gg
        |  WHERE br.rank <= 5),
        |ghit AS (SELECT gtr.n_hops, CAST(count(*) AS BIGINT) AS n_true,
        |  CAST(sum(CASE WHEN gtk.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |FROM gtr LEFT JOIN gtk ON gtr.n_hops = gtk.n_hops
        |  AND gtr.qid = gtk.qid AND gtr.nid = gtk.nid GROUP BY 1),
        |gnc AS (SELECT n_hops, CAST(count(*) AS BIGINT) AS n_candidates
        |  FROM gcf GROUP BY 1)
        |SELECT ghit.n_hops, n_true,
        |  coalesce(gnc.n_candidates, CAST(0 AS BIGINT)) AS n_candidates, n_hit,
        |  CAST(n_hit AS DOUBLE) / n_true AS recall
        |FROM ghit LEFT JOIN gnc ON ghit.n_hops = gnc.n_hops
        |ORDER BY ghit.n_hops""".stripMargin,

    // Operating curve (r8 #5): the knn_ivf chain widened to the grid
    // maximum (crank ≤ 4, rank retained), every candidate pair
    // carrying its MINIMUM probe rank; each grid point is then a
    // filter over the shared pair set, ranked per (config, probe) —
    // one sweep, three rows, monotone recall by candidate nesting.
    "ann_operating_curve" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cfg AS (SELECT unnest([CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(4 AS BIGINT)]) AS np),
        |n AS (SELECT vec_id, v,
        |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm FROM e),
        |bs AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |  list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i]*c.v[i])) / (q.nrm * c.nrm) AS cos_sim
        |FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
        |br AS (SELECT qid, nid,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM bs),
        |b AS (SELECT qid, nid FROM br WHERE rank <= 5),
        |cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16),
        |a AS (SELECT x.vec_id, x.v, x.nrm, c.cid,
        |  list_sum(list_transform(range(1, len(x.v)+1), i -> x.v[i]*c.cv[i])) / (x.nrm * c.cnrm) AS ccos
        |FROM n x CROSS JOIN cent c),
        |rk AS (SELECT vec_id, v, nrm, cid,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank FROM a),
        |corpus AS (SELECT vec_id AS nid, v AS nv, nrm AS nnrm, cid AS list_id
        |  FROM rk WHERE crank = 1),
        |probes AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cid AS list_id, crank
        |  FROM rk WHERE vec_id < 20 AND crank <= 4),
        |s AS (SELECT p.qid, c.nid, p.crank,
        |  list_sum(list_transform(range(1, len(p.qv)+1), i -> p.qv[i]*c.nv[i])) / (p.qnrm * c.nnrm) AS cos_sim
        |FROM corpus c JOIN probes p ON p.list_id = c.list_id AND p.qid <> c.nid),
        |g AS (SELECT qid, nid, max(cos_sim) AS cos_sim,
        |  CAST(min(crank) AS BIGINT) AS min_crank FROM s GROUP BY 1, 2),
        |x AS (SELECT cfg.np, g.qid, g.nid, g.cos_sim FROM g CROSS JOIN cfg
        |  WHERE g.min_crank <= cfg.np),
        |r AS (SELECT np, qid, nid,
        |  row_number() OVER (PARTITION BY np, qid ORDER BY cos_sim DESC, nid) AS rank FROM x),
        |l AS (SELECT np, qid, nid FROM r WHERE rank <= 5),
        |tb AS (SELECT cfg.np, b.qid, b.nid FROM b CROSS JOIN cfg),
        |h AS (SELECT tb.np, CAST(count(*) AS BIGINT) AS n_true,
        |  CAST(sum(CASE WHEN l.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |FROM tb LEFT JOIN l ON tb.np = l.np AND tb.qid = l.qid AND tb.nid = l.nid
        |GROUP BY 1),
        |nc AS (SELECT np, CAST(count(*) AS BIGINT) AS n_candidates FROM x GROUP BY 1)
        |SELECT h.np AS n_probe_lists, n_true,
        |  coalesce(n_candidates, CAST(0 AS BIGINT)) AS n_candidates, n_hit,
        |  CAST(n_hit AS DOUBLE) / n_true AS recall
        |FROM h LEFT JOIN nc ON h.np = nc.np ORDER BY n_probe_lists""".stripMargin,

    // The LSH family's knob sweep (r11 VERDICT #6): one coarsest-
    // bucket pair set, per-pair leading-prefix agreement (exact
    // integer min-over-mismatch-positions), grid rows as filters —
    // the ann_operating_curve construction with the knob direction
    // reversed (longer signature = FEWER candidates).
    "lsh_operating_curve" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cfg AS (SELECT unnest([CAST(2 AS BIGINT), CAST(4 AS BIGINT), CAST(8 AS BIGINT)]) AS np),
        |n AS (SELECT vec_id, v,
        |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm FROM e),
        |sg AS (SELECT vec_id, v, nrm, $lshSigSql AS sig FROM n),
        |bs AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |  list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i]*c.v[i])) / (q.nrm * c.nrm) AS cos_sim
        |FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
        |br AS (SELECT qid, nid,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM bs),
        |b AS (SELECT qid, nid FROM br WHERE rank <= 5),
        |pr AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, sig AS qs FROM sg WHERE vec_id < 20),
        |pairs AS (SELECT pr.qid, c.vec_id AS nid,
        |  list_sum(list_transform(range(1, len(pr.qv)+1), i -> pr.qv[i]*c.v[i])) / (pr.qn * c.nrm) AS cos_sim,
        |  CAST(list_min(list_transform(range(1, 9), i ->
        |    CASE WHEN substr(pr.qs, i, 1) = substr(c.sig, i, 1) THEN 8 ELSE i - 1 END)) AS BIGINT) AS agree_len
        |FROM sg c JOIN pr ON substr(c.sig, 1, 2) = substr(pr.qs, 1, 2) AND pr.qid <> c.vec_id),
        |x AS (SELECT cfg.np, pairs.qid, pairs.nid, pairs.cos_sim
        |  FROM pairs CROSS JOIN cfg WHERE pairs.agree_len >= cfg.np),
        |r AS (SELECT np, qid, nid,
        |  row_number() OVER (PARTITION BY np, qid ORDER BY cos_sim DESC, nid) AS rank FROM x),
        |l AS (SELECT np, qid, nid FROM r WHERE rank <= 5),
        |tb AS (SELECT cfg.np, b.qid, b.nid FROM b CROSS JOIN cfg),
        |h AS (SELECT tb.np, CAST(count(*) AS BIGINT) AS n_true,
        |  CAST(sum(CASE WHEN l.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |FROM tb LEFT JOIN l ON tb.np = l.np AND tb.qid = l.qid AND tb.nid = l.nid
        |GROUP BY 1),
        |nc AS (SELECT np, CAST(count(*) AS BIGINT) AS n_candidates FROM x GROUP BY 1)
        |SELECT h.np AS n_planes, n_true,
        |  coalesce(n_candidates, CAST(0 AS BIGINT)) AS n_candidates, n_hit,
        |  CAST(n_hit AS DOUBLE) / n_true AS recall
        |FROM h LEFT JOIN nc ON h.np = nc.np ORDER BY n_planes""".stripMargin,

    // The composed IVF-PQ index's probeLists sweep (r12 VERDICT #4):
    // the shared unrolled-Lloyd chains (pq + "g"-prefixed coarse),
    // probe cells ranked to the WIDEST grid config with their rank
    // kept (a corpus row sits in one cell, so the rank IS min_crank),
    // grid rows filter the one pair set, ADC nano-ranked per config,
    // cosine brute truth — the ann_operating_curve tail over the
    // knn_ivf_pq search machinery.
    "ann_operating_curve_ivf_pq" ->
      s"""$pqCteSql,
        |${ivfPqCurveTailSql("e")}""".stripMargin,

    // The r13 curve in the LEARNED rotation's space: index chain over
    // the rotated e (dump-time-inlined matrix), truth over the raw
    // floats — row-by-row comparable with the plain curve, the
    // measured answer to its own "ADC-limited" diagnostic reading.
    "ann_operating_curve_ivf_pq_opq_learned" ->
      s"""WITH $opqLearnedRotatedCteSql,
        |${pqBlocksSql("", "e")},
        |${ivfPqCurveTailSql("eraw")}""".stripMargin,

    // The RESIDUAL member of the curve family (r13): the
    // knn_ivf_pq_residual chain (cells, REAL-roundtripped residuals,
    // "r"-prefixed per-subspace Lloyd, per-probed-cell probe residual)
    // with probe cells ranked to the widest config, then the shared
    // grid tail; truth over the raw doubles.
    "ann_operating_curve_ivf_pq_residual" ->
      s"""WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |${ivfPqResidualCurveTailSql("e")}""".stripMargin,

    // The composed stack's sweep (r14, VERDICT r13 #3): the residual
    // curve chain over the LEARNED-rotated frame, truth over the raw
    // floats — the fourth member completing the curve matrix
    // (raw / learned / residual / learned+residual), all four
    // row-by-row comparable.
    "ann_operating_curve_ivf_pq_residual_opq_learned" ->
      s"""WITH $opqLearnedRotatedCteSql,
        |${ivfPqResidualCurveTailSql("eraw")}""".stripMargin,

    // A-Res weighted priority sample: u strictly inside (0,1) via
    // (2·hi28+1)/2^29 (log2 stays finite), priority = log2(u)/weight —
    // expression order mirrors Corpus.prioritySample exactly.
    "corpus_vocab_hll" -> vocabHllSql(withExact = true),
    "corpus_vocab_hll_incremental" -> vocabHllSql(withExact = false),

    "corpus_priority_sample" -> prioritySampleSql,
    // reservoir continuation: merged top-n ≡ one-shot, stated literally
    "corpus_priority_sample_incremental" -> prioritySampleSql,

    // Single-window statement of the cap; the Spark side's two-phase
    // salted form is provably identical (Corpus.capPerSource scaladoc).
    "cap_per_source" -> capPerSourceSql,
    // exact associativity of per-source top-cap ⇒ the continuation is
    // byte-identical to the one-shot — one oracle serves both
    "cap_per_source_incremental" -> capPerSourceSql
  )

  /** The bigram model + per-(doc,bigram) contribution CTE chain,
    * ending in `j(doc_id, nll_micro)` — shared by the logloss oracles
    * and r8's perplexity-bucket oracle.
    */
  private val bigramModelCtes: String =
    """t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk
      |  FROM documents),
      |p AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
      |    i -> tk[i] || ' ' || tk[i+1])) AS bigram FROM t),
      |c2 AS (SELECT bigram, CAST(count(*) AS BIGINT) AS bigram_freq
      |  FROM p GROUP BY 1),
      |c1 AS (SELECT string_split(bigram, ' ')[1] AS w1,
      |    CAST(sum(bigram_freq) AS BIGINT) AS hist_freq
      |  FROM c2 GROUP BY 1),
      |vv AS (SELECT CAST(count(DISTINCT u.term) AS BIGINT) AS v
      |  FROM (SELECT unnest(tk) AS term FROM t) u),
      |ct AS (SELECT c2.bigram,
      |  CAST(floor(log2(CAST(hist_freq + v AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |  - CAST(floor(log2(CAST(bigram_freq + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |    AS nll_micro
      |FROM c2 JOIN c1 ON string_split(c2.bigram, ' ')[1] = c1.w1 CROSS JOIN vv),
      |j AS (SELECT doc_id, nll_micro FROM p JOIN ct USING (bigram))""".stripMargin

  /** Stupid-backoff trigram model CTEs (Brants et al. 2007) — model
    * counts from the EVEN-doc_id half, probes from the odd half (the
    * held-out split the operator states; a merged model would never
    * back off). Per-probe −log2 score with every log2 on exact
    * integer inputs, micro-quantized per term; one backoff level
    * costs −log2(0.4) micro-units (the same correctly-rounded log2
    * call in both engines); base level is Laplace (f(w)+1)/(N+V).
    */
  private val trigramBackoffCtes: String =
    """tks AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk
      |  FROM documents),
      |std AS (SELECT tk FROM tks WHERE doc_id % 2 = 0),
      |c1 AS (SELECT term, CAST(count(*) AS BIGINT) AS f
      |  FROM (SELECT unnest(tk) AS term FROM std) GROUP BY 1),
      |c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS f
      |  FROM (SELECT unnest(list_transform(range(1, len(tk)),
      |    i -> tk[i] || ' ' || tk[i+1])) AS bg FROM std) GROUP BY 1),
      |c3 AS (SELECT tg, CAST(count(*) AS BIGINT) AS f
      |  FROM (SELECT unnest(list_transform(range(1, len(tk)-1),
      |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tg FROM std) GROUP BY 1),
      |tot AS (SELECT CAST(sum(f) AS BIGINT) AS n_total,
      |  CAST(count(*) AS BIGINT) AS v FROM c1),
      |pr AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)-1),
      |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tri
      |  FROM tks WHERE doc_id % 2 <> 0),
      |kp AS (SELECT tri, string_split(tri, ' ') AS w
      |  FROM (SELECT DISTINCT tri FROM pr)),
      |ct AS (SELECT kp.tri,
      |  CASE WHEN c3.f IS NOT NULL THEN CAST(0 AS BIGINT)
      |       WHEN b2.f IS NOT NULL THEN CAST(1 AS BIGINT)
      |       ELSE CAST(2 AS BIGINT) END AS lvl,
      |  CASE WHEN c3.f IS NOT NULL THEN
      |    CAST(floor(log2(CAST(c2c.f AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |    - CAST(floor(log2(CAST(c3.f AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |  WHEN b2.f IS NOT NULL THEN
      |    - CAST(floor(log2(0.4) * 1000000 + 0.5) AS BIGINT)
      |    + CAST(floor(log2(CAST(u1c.f AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |    - CAST(floor(log2(CAST(b2.f AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |  ELSE
      |    - 2 * CAST(floor(log2(0.4) * 1000000 + 0.5) AS BIGINT)
      |    + CAST(floor(log2(CAST(tot.n_total + tot.v AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |    - CAST(floor(log2(CAST(coalesce(u1.f, 0) + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |  END AS nll_micro
      |  FROM kp
      |  LEFT JOIN c3 ON kp.tri = c3.tg
      |  LEFT JOIN c2 c2c ON w[1] || ' ' || w[2] = c2c.bg
      |  LEFT JOIN c2 b2 ON w[2] || ' ' || w[3] = b2.bg
      |  LEFT JOIN c1 u1c ON w[2] = u1c.term
      |  LEFT JOIN c1 u1 ON w[3] = u1.term
      |  CROSS JOIN tot),
      |bj AS (SELECT pr.doc_id, ct.lvl, ct.nll_micro FROM pr JOIN ct USING (tri))""".stripMargin

  private val trigramBackoffSql: String =
    s"""WITH $trigramBackoffCtes
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
      |  CAST(count(CASE WHEN lvl = 1 THEN 1 END) AS BIGINT) AS n_bo1,
      |  CAST(count(CASE WHEN lvl = 2 THEN 1 END) AS BIGINT) AS n_bo2,
      |  CAST(sum(nll_micro) AS BIGINT) AS sum_nll_micro,
      |  CAST(floor(CAST(sum(nll_micro) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
      |    AS logloss_microbits
      |FROM bj GROUP BY 1 ORDER BY doc_id""".stripMargin

  private val trigramBackoffSummarySql: String =
    s"""WITH $trigramBackoffCtes
      |SELECT d.source, CAST(count(DISTINCT bj.doc_id) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_trigrams,
      |  CAST(count(CASE WHEN lvl = 1 THEN 1 END) AS BIGINT) AS n_bo1,
      |  CAST(count(CASE WHEN lvl = 2 THEN 1 END) AS BIGINT) AS n_bo2,
      |  CAST(count(CASE WHEN lvl = 2 THEN 1 END) AS DOUBLE) / count(*) AS bo2_share,
      |  CAST(floor(CAST(sum(nll_micro) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
      |    AS logloss_microbits
      |FROM bj JOIN documents d USING (doc_id) GROUP BY 1 ORDER BY source""".stripMargin

  /** DSIR model CTEs (Xie et al. 2023): unigram+bigram features —
    * ONE 28-bit md5 per token, bigram keys by the exact arithmetic
    * combination h₀·2²⁸ + h₁ (the repetition-operator recipe), mod
    * [[Corpus.DsirBuckets]]; target = lang 'en', raw = the rest;
    * Laplace-smoothed bucket models; per-feature log-ratio
    * contributions micro-quantized per term (every log2 on exact
    * integer inputs — the bigram-model discipline).
    */
  private def dsirCtesOver(src: String): String = {
    val b = Corpus.DsirBuckets
    s"""tkd AS (SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS tk
      |  FROM $src),
      |hh AS (SELECT doc_id, lang,
      |  list_transform(tk, w -> ('0x' || substr(md5(w), 1, 7))::BIGINT) AS hs
      |  FROM tkd),
      |f AS (SELECT doc_id, lang, unnest(list_concat(
      |    list_transform(hs, h -> h % $b),
      |    list_transform(range(1, len(hs)),
      |      i -> (hs[i] * 268435456 + hs[i+1]) % $b)
      |  )) AS bucket FROM hh),
      |ctg AS (SELECT bucket, CAST(count(*) AS BIGINT) AS nt FROM f
      |  WHERE lang = 'en' GROUP BY 1),
      |crw AS (SELECT bucket, CAST(count(*) AS BIGINT) AS nr FROM f
      |  WHERE lang <> 'en' GROUP BY 1),
      |tt AS (SELECT CAST(coalesce(sum(nt), 0) AS BIGINT) AS tot_t FROM ctg),
      |tr AS (SELECT CAST(coalesce(sum(nr), 0) AS BIGINT) AS tot_r FROM crw),
      |cb AS (SELECT crw.bucket,
      |  CAST(floor(log2(CAST(coalesce(ctg.nt, 0) + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |  - CAST(floor(log2(CAST(tt.tot_t + $b AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |  - CAST(floor(log2(CAST(crw.nr + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |  + CAST(floor(log2(CAST(tr.tot_r + $b AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |    AS wt_micro
      |  FROM crw LEFT JOIN ctg USING (bucket) CROSS JOIN tt CROSS JOIN tr),
      |dw AS (SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
      |  CAST(sum(wt_micro) AS BIGINT) AS weight_micro
      |  FROM f JOIN cb USING (bucket) WHERE f.lang <> 'en' GROUP BY 1)""".stripMargin
  }

  private val dsirCtes: String = dsirCtesOver("documents")

  /** Bigram logloss oracle with a final doc filter — "" for the
    * one-shot, a doc_id predicate for the model-continuation form
    * (same model CTEs either way: the merged model IS the full-corpus
    * model).
    */
  private def bigramLoglossSql(docFilter: String): String =
    s"""WITH $bigramModelCtes
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(sum(nll_micro) AS BIGINT) AS sum_nll_micro,
      |  CAST(floor(CAST(sum(nll_micro) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
      |    AS logloss_microbits
      |FROM j $docFilter GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** CCNet bucket decision over the bigram logloss — per-language
    * tercile thresholds at bucket grain (cum·3 ≥ n integer logic).
    * One text, two graded paths: the one-shot operator and the
    * streamed-then-reconciled lambda split (their outputs are equal
    * by the reconcile contract).
    */
  private def perplexityBucketSql: String = {
    // kept fraction N/D is the operator's default; 2/3 renders
    // cum·6 ≥ n·2 / cum·3 ≥ n·2 — integer-equivalent to the r8
    // tercile cuts (both sides scaled by 2)
    val (kn, kd) = TextOps.PerplexityKept
    s"""WITH $bigramModelCtes,
      |sb AS (SELECT doc_id,
      |  CAST(floor(CAST(sum(nll_micro) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
      |    AS logloss_microbits
      |FROM j GROUP BY 1),
      |sl AS (SELECT sb.doc_id, d.lang, sb.logloss_microbits
      |  FROM sb JOIN documents d USING (doc_id)),
      |h AS (SELECT lang, logloss_microbits, CAST(count(*) AS BIGINT) AS n
      |  FROM sl GROUP BY 1, 2),
      |tl AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang FROM h GROUP BY 1),
      |cu AS (SELECT lang, logloss_microbits,
      |  sum(n) OVER (PARTITION BY lang ORDER BY logloss_microbits) AS cum FROM h),
      |th AS (SELECT cu.lang,
      |  min(CASE WHEN cum * ${2L * kd} >= n_lang * $kn THEN logloss_microbits END) AS t1_micro,
      |  min(CASE WHEN cum * $kd >= n_lang * $kn THEN logloss_microbits END) AS t2_micro
      |FROM cu JOIN tl USING (lang) GROUP BY 1)
      |SELECT sl.doc_id, sl.lang, sl.logloss_microbits, th.t1_micro, th.t2_micro,
      |  CASE WHEN sl.logloss_microbits <= th.t1_micro THEN 'head'
      |       WHEN sl.logloss_microbits <= th.t2_micro THEN 'middle'
      |       ELSE 'tail' END AS bucket,
      |  sl.logloss_microbits <= th.t2_micro AS kept
      |FROM sl JOIN th USING (lang) ORDER BY sl.doc_id""".stripMargin
  }

  private lazy val capPerSourceSql: String =
    s"""WITH r AS (SELECT source, doc_id, n_chars,
       |  CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank
       |FROM documents)
       |SELECT source, rank, doc_id, n_chars FROM r WHERE rank <= 15
       |ORDER BY source, rank""".stripMargin
}
