package perfbench

/** One closed-loop call the benchmark issues, tagged with the operator
  * family (the `graft.operators` object doing the work) that its traced
  * time is rolled up under.
  *
  * `kind` says how the call runs:
  *  - `query`: a `SparkEntry.queries` entry, executed and its rows
  *    discarded;
  *  - `land`: a `SparkEntry.queries` entry landed through
  *    `Loader.truncateAndLoad` and counted back, as `Etl.buildAll`
  *    lands each dimension and fact;
  *  - `extract`: every source table counted, as `Etl.buildAll`'s
  *    extraction phase does;
  *  - `cdc`: `Etl.maintainFactTransactions` of the landed
  *    `fact_transactions` against the next events snapshot, landed
  *    through `Loader`.
  */
final case class Op(name: String, family: String, kind: String = "query")

object Ops {

  /** LLM-data curation entries: multi-job operators whose cost sits in
    * eager sub-jobs, driver collects, checkpoints and the native
    * expressions of `graft.functions`: one or two entries per operator
    * family.
    */
  val curation: Vector[Op] = Vector(
    Op("knn_ivf", "Similarity"),
    Op("dsir_weights", "Corpus"),
    Op("dedup_reconcile", "Dedup"),
    Op("dedup_minhash", "Dedup"),
    Op("repeated_spans", "TextOps"),
    Op("decontaminate", "TextOps"),
    Op("bpe_encode_pretrained", "Bpe"),
    Op("unigram_encode_pretrained", "UnigramLm"))

  /** The warehouse build's stages that carry its data: extraction, the
    * dimensions and facts the star joins read, a validation, the CDC
    * maintenance of `fact_transactions`, then two queries served over
    * the sources. The CDC step reads the landed `fact_transactions`, so
    * it comes after it in the (unshuffled) warm-up pass.
    */
  val warehouse: Vector[Op] = Vector(
    Op("extract", "Extract", "extract"),
    Op("dim_customer", "Dims", "land"),
    Op("scd2_customer", "Dims", "land"),
    Op("fact_sales", "Facts", "land"),
    Op("fact_transactions", "Facts", "land"),
    Op("validate_ri", "Validation"),
    Op("cdc", "Cdc", "cdc"),
    Op("q5_region_volume", "Analytics"),
    Op("sessionize_events", "EventOps"))

  /** Every family a per-layer `operators.<family>.s` metric exists for.
    * The warehouse stages' families are reported as `Etl.*` and `cdc.*`.
    */
  val families: Seq[String] = Seq("Analytics", "EventOps", "Dedup", "Similarity", "TextOps",
    "Corpus", "Bpe", "UnigramLm")
}
