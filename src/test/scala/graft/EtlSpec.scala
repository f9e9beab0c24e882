package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end warehouse build at sf0.01 (the correctness-gate scale):
  * every table lands, the report reconciles with what's on disk, and
  * key row counts match the oracle-verified figures.
  */
class EtlSpec extends AnyFunSuite {
  import TestSpark._

  private val sf001 = "/root/testdata/sf0.01"

  test("buildAll lands the full star schema and the report reconciles") {
    val out = Files.createTempDirectory("graft_etl").toString
    // drive the build through a config FILE (reference etl_config.yaml
    // parity): file keys beat env and defaults
    val confFile = Files.createTempDirectory("graft_conf").resolve("graft.properties")
    Files.writeString(confFile, s"sf.dir=$sf001\nout.dir=$out\nbench.reps=3\n")
    val cfg = GraftConfig.load(Some(confFile.toString))
    assert(cfg.sfDir === sf001 && cfg.outDir === out && cfg.benchReps === 3)
    // absent file → env/defaults, without throwing; only assert values
    // the ambient environment can't override (env keys the driver may
    // legitimately export must not fail this suite)
    val dflt = GraftConfig.load(Some(confFile.toString + ".missing"))
    assert(dflt.outDir === sys.env.getOrElse("SPARK_GRAFT_OUT_DIR", "target/warehouse"))
    assert(dflt.benchReps === sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // a malformed numeric value must name the offending key — a bare
    // NumberFormatException gives no hint which knob carried the garbage
    val badFile = confFile.resolveSibling("bad.properties")
    Files.writeString(badFile, "bench.reps=three\n")
    val err = intercept[IllegalArgumentException] {
      GraftConfig.load(Some(badFile.toString))
    }
    assert(err.getMessage.contains("bench.reps") && err.getMessage.contains("three"))
    val report = Etl.buildAll(spark, cfg).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(4)))

    // no stage errored; extract/dim/fact all clean. Validation stages
    // may legitimately carry "findings: N" (the corpus plants dup keys
    // on purpose) — findings are data-quality signal, not build failure.
    val errored = report.filter(_._4.startsWith("error"))
    assert(errored.isEmpty, s"failed stages: ${errored.mkString(", ")}")
    report.filter(r => r._1 != "validate").foreach { r =>
      assert(r._4 === "ok", s"non-validation stage not ok: $r")
    }
    // the planted duplicates MUST surface as findings
    val dupStatus = report.find(_._2 == "validate_duplicates").get._4
    assert(dupStatus.startsWith("findings:"), s"planted dups invisible: $dupStatus")

    // phases present and dependency-ordered (extract < dim < fact < validate)
    val stages = report.map(_._1)
    assert(stages.distinct.toSeq === Seq("extract", "dim", "fact", "validate"))

    // the report's row counts (summed from the landed files' footers)
    // reconcile with a scan of the parquet actually landed
    report.filter(r => r._1 == "dim" || r._1 == "fact").foreach {
      case (_, table, rows, _) =>
        assert(spark.read.parquet(s"$out/$table").count() === rows,
          s"report row count must match landed table $table")
    }

    // spot-check against the oracle-verified sf0.01 figures
    val byTable = report.map(r => r._2 -> r._3).toMap
    assert(byTable("dim_customer") === 1500L)
    assert(byTable("fact_sales") === 60000L)
    assert(byTable("fact_sales_promo") === 60000L)  // same line grain
    assert(byTable("fact_pnl") === 21L)
    assert(byTable("dim_payment_method") === 10L)
    // the r3 warehouse/shipping/accounting tables land too (oracle figures)
    assert(byTable("dim_warehouse") === 25L)
    assert(byTable("dim_shipping") === 14L)
    assert(byTable("dim_cost_center") === 6L)
    assert(byTable("dim_transaction_type") === 6L)
    assert(byTable("dim_movement_type") === 3L)
    assert(byTable("fact_inventory_wh") === 32146L)
    // r4 dims: one address per customer+supplier, static statuses, category tree
    assert(byTable("dim_direccion") === 1600L)
    assert(byTable("dim_estado_pago") === 6L)
    assert(byTable("dim_categoria_producto") > 6L)
    assert(byTable("dim_usuario") > 0L)
    assert(byTable("dim_sitio_web") === 5L)

    // the one-row run summary (ref MetricsCollector.get_summary twin)
    // reconciles with the per-stage report
    val summary = Etl.runSummary(spark.read.parquet(s"$out/etl_run_report")).head()
    assert(summary.getLong(2) === report.length.toLong)   // stages_total
    assert(summary.getLong(1) === 0L)                     // stages_failed
    assert(summary.getDouble(3) > 0.0 && summary.getDouble(3) <= 100.0)
    assert(summary.getLong(0) >= byTable("fact_sales"))   // records_processed
    assert(summary.getDouble(4) > 0.0)                    // duration_seconds

    // the report itself lands as a queryable table
    val persisted = spark.read.parquet(s"$out/etl_run_report")
    assert(persisted.count() === report.length.toLong)
    assert(persisted.columns.toSeq ===
      Seq("stage", "table", "rows", "seconds", "status"))

    // the landed warehouse serves SQL directly through the facade
    val registered = Graft.registerWarehouse(spark, out)
    assert(registered.contains("fact_sales") && registered.contains("dim_customer"))
    val sqlRows = spark.sql(
      """SELECT d.balance_tier, count(*) AS n
        |FROM fact_sales f JOIN dim_customer d ON f.customer_sk = d.customer_sk
        |GROUP BY 1""".stripMargin).collect()
    assert(sqlRows.map(_.getLong(1)).sum === 60000L)

    // export surface: every landed table round-trips to headered CSV
    val exp = Files.createTempDirectory("graft_export").toString
    val expReport = Etl.exportCsv(spark, out, exp).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(expReport("dim_customer") === 1500L)
    expReport.foreach { case (t, n) =>
      assert(spark.read.parquet(s"$out/$t").count() === n, s"export row count of $t")
    }
    val csvCount = spark.read.option("header", "true")
      .csv(s"$exp/dim_customer").count()
    assert(csvCount === 1500L)
  }

  test("a missing source turns its stages into error rows and the build goes on") {
    import org.apache.commons.io.FileUtils
    val src = Files.createTempDirectory("graft_etl_src").toFile
    val out = Files.createTempDirectory("graft_etl_err").toString
    try {
      FileUtils.copyDirectory(new java.io.File("/root/testdata/sf0.001"), src)
      FileUtils.forceDelete(new java.io.File(src, "documents.parquet"))
      val report = Etl.buildAll(spark, src.toString, out).collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getString(4)))
      val byStage = report.toMap
      val (docRows, docStatus) = byStage(("extract", "documents"))
      assert(docStatus.startsWith("error: ") && docRows === -1L, docStatus)
      val (dupRows, dupStatus) = byStage(("validate", "validate_duplicates"))
      assert(dupStatus.startsWith("error: ") && dupRows === -1L, dupStatus)
      val failing = Set(("extract", "documents"), ("validate", "validate_duplicates"))
      report.filterNot(r => failing(r._1)).foreach { case (k, (_, status)) =>
        assert(status === "ok" || status.startsWith("findings: "), s"$k: $status")
      }
      assert(report.length === 9 + 25 + 7 + 5)
      assert(spark.read.parquet(s"$out/etl_run_report").count() === report.length.toLong)
    } finally {
      FileUtils.deleteDirectory(src)
      FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("CDC-maintained fact_transactions is row-identical to a full rebuild") {
    val ev = graft.sources.Tables.events(spark, sf001)
    val oldEv = ev.filter(col("event_id") % 5 =!= 0)
    val newEv = ev.filter(col("event_id") % 7 =!= 0)
    val keys = Seq("user_id", "event_type", "event_date")
    val oldFact = graft.operators.Facts.factTransactions(oldEv)
    val newFact = graft.operators.Facts.factTransactions(newEv)
    // the change stream the maintenance runs on carries all three ops
    val changes = graft.operators.Validation.snapshotDiff(
      oldFact, newFact, keys, Seq("n_events", "total_value"))
    val ops = changes.groupBy("change_op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Set("I", "U", "D").subsetOf(ops.keySet),
      s"fixture must produce inserts, updates AND deletes: $ops")
    // incremental apply ≡ full rebuild, exactly
    val maintained = Etl.maintainFactTransactions(oldFact, newEv)
    assert(maintained.exceptAll(newFact).count() === 0)
    assert(newFact.exceptAll(maintained).count() === 0)
    // and the maintenance touched only changed grains: untouched rows
    // come from the standing fact, counted via the kept-side anti-join
    val touched = changes.count()
    assert(maintained.count() === oldFact.count()
      - ops.getOrElse("D", 0L) + ops.getOrElse("I", 0L))
    assert(touched === ops.values.sum)
  }
}
