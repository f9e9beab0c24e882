package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.EventOps
import graft.sources.Tables
import graft.streaming.EventStream

class EventsSpec extends AnyFunSuite {
  import TestSpark._

  test("sessionize: sessions partition the event stream") {
    val ev = Tables.events(spark, sf)
    val s = EventOps.sessionize(ev)
    assert(s.agg(sum("n_events")).head.getLong(0) === ev.count())
    assert(s.filter(col("duration_sec") < 0).count() === 0)
  }

  test("asof join: matched order is at-or-before the event") {
    val a = EventOps.asofJoinEventsOrders(Tables.events(spark, sf), Tables.orders(spark, sf))
    assert(a.filter(col("order_date") > col("event_date")).count() === 0)
    // every purchase event appears exactly once
    val purchases = Tables.events(spark, sf).filter(col("event_type") === "purchase")
    assert(a.count() === purchases.count())
  }

  test("custom as-of exec matches the union-window implementation") {
    val ev = Tables.events(spark, sf)
    val ord = Tables.orders(spark, sf)
    val viaWindow = EventOps.asofJoinEventsOrders(ev, ord)
    val viaCustom = EventOps.asofJoinCustom(spark, ev, ord)
    assert(viaCustom.exceptAll(viaWindow).count() === 0)
    assert(viaWindow.exceptAll(viaCustom).count() === 0)
    // and the plan really is the custom exec
    // TreeNode.nodeName strips the Exec suffix in plan rendering
    assert(viaCustom.queryExecution.executedPlan.toString.contains("AsOfJoin"))
  }

  test("custom as-of exec: null keys/times join nothing but survive (left outer)") {
    import spark.implicits._
    val l = Seq((Some(1L), Some(10L), "a"), (None, Some(20L), "b"),
      (Some(1L), None, "c"), (Some(2L), Some(30L), "d"))
      .toDF("k", "t", "tag")
    val r = Seq((Some(1L), Some(5L), "r1"), (None, Some(1L), "skip"),
      (Some(2L), None, "skip2"), (Some(2L), Some(25L), "r2"))
      .toDF("rk", "rt", "rtag")
    val out = graft.plans.AsOf.join(spark, l, r, "k", "rk", "t", "rt")
      .collect().map(x => x.getString(2) -> Option(x.getString(5))).toMap
    assert(out === Map("a" -> Some("r1"), "b" -> None, "c" -> None, "d" -> Some("r2")))
  }

  test("custom as-of exec: date keys work; string keys rejected with a typed error") {
    import spark.implicits._
    val l = Seq((1L, java.sql.Date.valueOf("2024-03-05")), (2L, java.sql.Date.valueOf("2024-03-01")))
      .toDF("k", "d")
    val r = Seq((1L, java.sql.Date.valueOf("2024-03-01"), 99.0)).toDF("rk", "rd", "v")
    val out = graft.plans.AsOf.join(spark, l, r, "k", "rk", "d", "rd")
      .collect().map(x => x.getLong(0) -> Option(x.get(4))).toMap
    assert(out === Map(1L -> Some(99.0), 2L -> None))
    val ls = Seq(("x", 1L)).toDF("k", "t")
    val rs = Seq(("x", 1L)).toDF("rk", "rt")
    val e = intercept[Exception] {
      graft.plans.AsOf.join(spark, ls, rs, "k", "rk", "t", "rt").collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("as-of join key/time")), s"got: $e")
  }

  test("funnel: stage counts monotonically decrease") {
    val f = EventOps.funnel(Tables.events(spark, sf)).orderBy("stage_n")
      .select("n_users").collect().map(_.getLong(0))
    assert(f.length === 4)
    assert(f.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("dedup latest: one row per (user, type)") {
    val d = EventOps.dedupLatest(Tables.events(spark, sf))
    assert(d.groupBy("user_id", "event_type").count().filter(col("count") > 1).count() === 0)
  }

  test("streaming hourly equals batch hourly") {
    val batch = EventOps.hourly(Tables.events(spark, sf))
      .select("hour", "event_type", "n_events", "total_value")
    val q = EventStream.hourlyStream(spark, sf)
      .writeStream.outputMode("complete").format("memory").queryName("hourly_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("hourly_out")
      .select("hour", "event_type", "n_events", "total_value")
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streaming native session windows equal batch session windows") {
    val batch = graft.operators.EventOps.sessionWindows(Tables.events(spark, sf))
      .select("user_id", "session_start", "session_end", "n_events", "total_value")
    val q = EventStream.sessionWindowStream(spark, sf)
      .writeStream.outputMode("complete").format("memory")
      .queryName("sess_sw_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sess_sw_out")
      .select("user_id", "session_start", "session_end", "n_events", "total_value")
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streaming incremental fact upsert converges to the batch fact") {
    val sink = java.nio.file.Files.createTempDirectory("graft_factstream")
      .toString + "/fact_transactions"
    val q = EventStream.factTransactionsStream(spark, sf, sink)
    q.processAllAvailable(); q.stop()
    val streamed = spark.read.parquet(sink)
      .select("user_id", "event_type", "event_date", "n_events", "total_value")
    val batch = graft.operators.Facts.factTransactions(Tables.events(spark, sf))
      .select("user_id", "event_type", "event_date", "n_events", "total_value")
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streaming pack planner matches the batch pack plan") {
    val sink = java.nio.file.Files.createTempDirectory("graft_packstream")
      .toString + "/pack_plan"
    val q = EventStream.packPlanStream(spark, sf, sink)
    q.processAllAvailable(); q.stop()
    val streamed = EventStream.readParts(spark, sink)
      .select("doc_id", "lang", "n_tokens", "pack_id", "pack_offset")
    val batch = graft.operators.Corpus.packPlan(Tables.documents(spark, sf))
      .select("doc_id", "lang", "n_tokens", "pack_id", "pack_offset")
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streaming pack planner carries per-lang totals across REAL micro-batches") {
    val sink = java.nio.file.Files.createTempDirectory("graft_packstream2")
      .toString + "/pack_plan"
    // two staged files, one per trigger (doc_id-ordered arrival)
    val q = EventStream.packPlanStream(spark, sf, sink, splitAt = Some(250L))
    q.processAllAvailable(); q.stop()
    // both triggers landed, and the second continued the running totals
    val batches = new java.io.File(sink).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted
    assert(batches.length === 2, s"expected two triggers, got ${batches.toSeq}")
    val streamed = EventStream.readParts(spark, sink)
      .select("doc_id", "lang", "n_tokens", "pack_id", "pack_offset")
    val batch = graft.operators.Corpus.packPlan(Tables.documents(spark, sf))
      .select("doc_id", "lang", "n_tokens", "pack_id", "pack_offset")
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streaming weighted sample keeps exactly the batch sample rows") {
    val q = EventStream.sampleStream(spark, sf)
      .writeStream.outputMode("append").format("memory").queryName("sample_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sample_out")
      .select("doc_id", "source", "lang", "weight", "sample_key")
    val batch = graft.operators.Corpus.sample(Tables.documents(spark, sf))
      .select("doc_id", "source", "lang", "weight", "sample_key")
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("count-min heavy hitters: estimate never under-counts; planted heavy key ranks first") {
    // the CMS contract — collisions only inflate — over EVERY key
    val all = EventOps.heavyHittersCms(Tables.events(spark, sf), topN = 1000000)
      .collect()
    assert(all.nonEmpty)
    all.foreach(r => assert(r.getLong(2) >= r.getLong(1),
      s"user ${r.getLong(0)}: est ${r.getLong(2)} < exact ${r.getLong(1)}"))
    // planted skew: user 999 with 100 events among 100 singleton users
    import spark.implicits._
    val users = (1 to 100).map(_.toLong) ++ Seq.fill(100)(999L)
    val planted = users.zipWithIndex.map { case (u, i) =>
        (i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L), u,
          "click", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val top = EventOps.heavyHittersCms(planted, topN = 5).collect()
    assert(top.head.getLong(0) === 999L)
    assert(top.head.getLong(1) === 100L)
    assert(top.head.getLong(2) >= 100L)
  }

  test("CMS incremental: merged sketch bit-equal to one-shot; batch keys ranked against full history") {
    val ev = Tables.events(spark, sf)
    val (corpus, batch) =
      (ev.filter(col("event_id") % 3 =!= 0), ev.filter(col("event_id") % 3 === 0))
    // sketch-cell state is exactly associative
    val merged = EventOps.mergeCmsCells(
        EventOps.cmsCells(corpus), EventOps.cmsCells(batch))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val oneShot = EventOps.cmsCells(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged === oneShot)
    // every batch key's estimate ≥ its FULL-corpus exact count (the
    // overestimate bound holds against history, not just the batch)
    val est = EventOps.heavyHittersCmsIncremental(corpus, batch, topN = 1000000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = ev.groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchKeys = batch.select("user_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(est.keySet === batchKeys, "only arriving keys are ranked")
    est.foreach { case (u, e) => assert(e >= exact(u), s"user $u") }
  }

  test("streaming sessionization matches batch closed sessions") {
    val q = EventStream.sessionizeStream(spark, sf)
      .writeStream.outputMode("append").format("memory").queryName("sess_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sess_out").select("user_id", "session_n", "n_events")
    // streaming emits sessions closed by a later event; each user's final
    // session stays open in state → batch minus last-session-per-user
    val batch = EventOps.sessionize(Tables.events(spark, sf))
    val lastPerUser = batch.groupBy("user_id").agg(max("session_n").as("session_n"))
    val closedBatch = batch.join(lastPerUser, Seq("user_id", "session_n"), "left_anti")
      .select("user_id", "session_n", "n_events")
    assert(streamed.exceptAll(closedBatch).count() === 0)
    assert(closedBatch.exceptAll(streamed).count() === 0)
  }

  test("grouped dau hll: exact column matches dauWau; estimate within sketch error") {
    val ev = graft.sources.Tables.events(spark, sf)
    val hll = graft.operators.EventOps.dauHll(ev).collect()
    assert(hll.nonEmpty)
    val dau = graft.operators.EventOps.dauWau(ev).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    hll.foreach { r =>
      val (day, est, exact) = (r.getDate(0).toString,
        r.getLong(3) / 1e6, r.getLong(4))
      assert(exact === dau(day), s"$day exact DAU disagrees with dauWau")
      // m=256 HLL: σ ≈ 1.04/√256 ≈ 6.5%; 30% is > 4σ headroom
      assert(math.abs(est - exact) / exact < 0.30,
        s"$day estimate $est vs exact $exact out of tolerance")
    }
  }
}
